"""Per-partition checkpointing, resume, lineage, and metrics — the
curator crown jewels re-expressed for Spark (SURVEY.md §7 step 6).

Reference parity:
* run-level memoization via fingerprint (reference: src/bespokelabs/
  curator/llm/llm.py:138-163, base_request_processor.py:282-303) →
  deterministic run_id + short-circuit when the run marker exists;
* resume by skipping completed work (reference:
  base_request_processor.py:438-481 validate_existing_response_file) →
  skip partitions that have a ledger commit marker;
* batch lifecycle state machine persisted after every transition
  (reference: batch_status_tracker.py:308-360, batch_objects.jsonl) →
  one JSON marker file per committed partition, written AFTER the data
  (write-data-then-marker ordering makes a crash between the two safe:
  the partition is rewritten by dynamic partition overwrite on resume);
* counter metrics (reference: online_status_tracker.py:40-78) → a
  per-(run, part) metrics parquet table;
* lineage rows in SQLite (reference: db.py:78-131) → _meta/run_*.json.

Output layout (an Iceberg-commit stand-in):

  out_dir/
    data/part=K/*.parquet     scored+filtered turns
    _ledger/part-K.json       commit marker: {run_id, part, status, n_rows}
    _metrics/*.parquet        METRICS_SCHEMA rows
    _meta/run_<id>.json       lineage
    _scored-<run>-<shard>/    transient staged scoring scratch (scoped
                              per invocation so concurrent only_parts
                              shards never clobber each other; removed
                              after the shard's commits land)
    _SUCCESS_RUN              whole-run completion marker (memoization)

The ledger is PLUGGABLE (ledger_backend=): `markers` is the layout
above (one POSIX-rename'd JSON marker per partition); `commitlog` is a
Delta-protocol-style versioned transaction log (_commitlog/vNNN.json,
put-if-absent commits) whose atomicity story transfers to object
stores, where rename is not atomic — see CommitLogLedger. Both
backends pass the identical kill/resume/corruption/concurrency suite
(tests/test_checkpoint.py is parametrized over them).

Resume re-validates every committed partition (footer row counts vs
ledger n_rows) before trusting its marker — including before honoring
the whole-run memo marker, so corruption introduced after a completed
run is still detected on the next invocation; mismatches recompute
that partition (reference: base_request_processor.py:120-167).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from datetime import datetime, timezone

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import rules, schema
from .pipeline import curate_scored, run_pipeline_staged, score_turns


def run_fingerprint(input_path: str, params: dict | None = None) -> str:
    """Deterministic run id from (input, rule constants, code params) —
    the analogue of the reference's xxh64 fingerprint chain."""
    basis = {
        "input": input_path,
        "rules": {
            "scrub": rules.SCRUB_PATTERNS,
            "max_ppl": rules.MAX_PPL,
            "conv_max_mean_ppl": rules.CONV_MAX_MEAN_PPL,
            "allowed_langs": sorted(rules.ALLOWED_LANGS),
        },
        "params": params or {},
    }
    return hashlib.md5(json.dumps(basis, sort_keys=True, default=str).encode()).hexdigest()[:16]


class OsLinkStore:
    """put-if-absent on a POSIX filesystem: `os.link` from a fsynced
    tmp file is an atomic create-with-full-content that FAILS when the
    name exists. The default store on local/NFS/HDFS-fuse paths."""

    name = "oslink"

    def put_if_absent(self, path: str, data: bytes) -> bool:
        """Publish `data` at `path` iff nothing is there. True on
        success; False when the name already exists (a racer won —
        whatever is there is complete, never half-written). Raises on
        any other I/O failure."""
        import uuid
        tmp = os.path.join(os.path.dirname(path),
                           f".put-{uuid.uuid4().hex}.tmp")
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)


class CondPutStore:
    """put-if-absent via an If-None-Match-style conditional PUT: take
    an exclusive lock (standing in for the object store's server-side
    serialization), check existence, publish full content atomically.
    This is the literal shape of S3 `PUT If-None-Match: *` /
    GCS `if-generation-match: 0` / Azure `If-None-Match: *` — running
    the whole ledger suite over this store proves the commit protocol
    depends ONLY on the conditional-put contract (exactly-one winner
    per name, complete content or nothing), not on os.link errno
    behavior. An S3 adapter is this class with the lock+check+replace
    replaced by one botocore call."""

    name = "condput"

    def put_if_absent(self, path: str, data: bytes) -> bool:
        import fcntl
        import uuid
        d = os.path.dirname(path)
        os.makedirs(d, exist_ok=True)
        lockfile = os.path.join(d, ".store-lock")
        with open(lockfile, "a+") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)  # released on close
            if os.path.exists(path):
                return False               # 412 Precondition Failed
            tmp = os.path.join(d, f".put-{uuid.uuid4().hex}.tmp")
            with open(tmp, "wb") as f:
                f.write(data)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, path)          # 200 OK
            return True


class S3Store:
    """put-if-absent via S3 conditional PUT: `PUT ... If-None-Match: *`
    returns 200 to exactly one writer per key and 412 Precondition
    Failed to every later one — the server-side contract the whole
    commit protocol rests on (PROTOCOL.md §2). The client is INJECTED
    (a boto3 S3 client, or any object with its `put_object` surface),
    so the adapter carries zero SDK dependency and the full ledger
    suite can prove the protocol over a contract double
    (curator_spark.testing.FakeS3Client) with injected 412/409/5xx
    answers.

    Response handling mirrors S3's documented conditional-write
    behavior:
    * 412 PreconditionFailed → False (a racer's object is there, and
      S3 guarantees it is COMPLETE — multipart/atomic visibility);
    * 409 ConditionalRequestConflict → RETRY with backoff: S3 returns
      this to ALL writers when conditional PUTs race mid-flight, so
      giving up would mean NO winner; the retry then wins (200) or
      loses honestly (412);
    * 500/503/SlowDown → retry with backoff (standard S3 guidance);
    * anything else (403, invalid bucket, ...) → raise.
    """

    name = "s3"
    RETRYABLE = {"ConditionalRequestConflict", "OperationAborted",
                 "SlowDown", "InternalError", "ServiceUnavailable",
                 "RequestTimeout"}
    RETRYABLE_STATUS = {409, 500, 503}

    def __init__(self, client, bucket: str,
                 key_for=None, max_retries: int = 8,
                 backoff_base: float = 0.05, sleep=None) -> None:
        import time as _time
        self.client = client
        self.bucket = bucket
        # default key mapping: the ledger's absolute path minus the
        # leading slash (callers pass a prefix-aware key_for on real
        # buckets)
        self.key_for = key_for or (lambda p: str(p).lstrip("/"))
        self.max_retries = int(max_retries)
        self.backoff_base = float(backoff_base)
        self.sleep = sleep or _time.sleep

    @staticmethod
    def _code_status(exc) -> tuple[str | None, int | None]:
        """Duck-typed botocore ClientError shape: response['Error']
        ['Code'] + HTTP status. None/None for non-S3 exceptions."""
        resp = getattr(exc, "response", None)
        if not isinstance(resp, dict):
            return None, None
        code = (resp.get("Error") or {}).get("Code")
        status = (resp.get("ResponseMetadata") or {}).get(
            "HTTPStatusCode")
        return code, status

    def put_if_absent(self, path: str, data: bytes) -> bool:
        key = self.key_for(path)
        delay = self.backoff_base
        attempt = 0
        while True:
            try:
                self.client.put_object(Bucket=self.bucket, Key=key,
                                       Body=data, IfNoneMatch="*")
                return True
            except Exception as e:  # noqa: BLE001 — classified below
                code, status = self._code_status(e)
                if code == "PreconditionFailed" or status == 412:
                    return False  # a racer won; its object is complete
                retryable = (code in self.RETRYABLE
                             or status in self.RETRYABLE_STATUS)
                if not retryable or attempt >= self.max_retries:
                    raise
                self.sleep(delay)
                delay = min(delay * 2, 2.0)
                attempt += 1


def _s3_store_from_env():
    """Factory for CURATOR_SPARK_ATOMIC_STORE=s3: builds the adapter
    via the dotted `module:callable` in CURATOR_SPARK_S3_FACTORY (a
    deployment provides e.g. `mysite.stores:make_s3_store` returning
    S3Store(boto3.client('s3'), bucket, key_for=...)). Default falls
    back to the in-process contract double over the local filesystem
    (curator_spark.testing.local_fake_s3_store) — the full protocol
    runs through the S3 adapter's code path with no bucket."""
    spec = os.environ.get("CURATOR_SPARK_S3_FACTORY",
                          "curator_spark.testing:local_fake_s3_store")
    import importlib
    mod, _, fn = spec.partition(":")
    return getattr(importlib.import_module(mod), fn or
                   "local_fake_s3_store")()


ATOMIC_STORES = {"oslink": OsLinkStore, "condput": CondPutStore,
                 "s3": _s3_store_from_env}


def get_atomic_store():
    """The process-wide put-if-absent primitive for commit publishing
    (env CURATOR_SPARK_ATOMIC_STORE selects; default os.link). One
    seam: every log commit, checkpoint, and consumer cursor publishes
    through it, so pointing this at an object-store adapter moves the
    WHOLE protocol's atomicity to S3/GCS/Azure unchanged."""
    return ATOMIC_STORES[os.environ.get(
        "CURATOR_SPARK_ATOMIC_STORE", "oslink")]()


class MarkerLedger:
    """Commit ledger as one JSON marker file per partition plus a
    whole-run _SUCCESS_RUN marker, each published with a POSIX
    tmp-write + os.replace. Correct wherever rename is atomic (POSIX
    filesystems, driver-attached storage); on object stores use
    CommitLogLedger instead."""

    name = "markers"
    # markers backend: a partition's dir content IS its committed state
    # (atomic dir swap at publish), so validation demands exact equality
    # between manifest and on-disk file set
    log_defined_visibility = False

    def __init__(self, out_dir: str) -> None:
        self.out_dir = out_dir
        self.dir = os.path.join(out_dir, "_ledger")
        self._success = os.path.join(out_dir, "_SUCCESS_RUN")

    def committed(self) -> dict[int, dict | None]:
        """{part: marker} for every committed partition; an unreadable
        marker maps to None (revalidation treats it as invalid)."""
        if not os.path.isdir(self.dir):
            return {}
        out: dict[int, dict | None] = {}
        for fn in os.listdir(self.dir):
            if fn.startswith("part-") and fn.endswith(".json"):
                part = int(fn[len("part-"):-len(".json")])
                try:
                    with open(os.path.join(self.dir, fn)) as f:
                        out[part] = json.load(f)
                except Exception:
                    out[part] = None
        return out

    def commit_part(self, marker: dict) -> None:
        os.makedirs(self.dir, exist_ok=True)
        part = int(marker["part"])
        tmp = os.path.join(self.dir, f".part-{part}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(marker, f)
        os.replace(tmp, os.path.join(self.dir, f"part-{part}.json"))

    def drop_part(self, part: int) -> None:
        try:
            os.remove(os.path.join(self.dir, f"part-{part}.json"))
        except FileNotFoundError:
            pass

    def run_success(self) -> dict | None:
        try:
            with open(self._success) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def mark_run_success(self, run_id: str, n_parts: int) -> None:
        tmp = self._success + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"run_id": run_id, "n_parts": int(n_parts)}, f)
        os.replace(tmp, self._success)

    def drop_run_success(self) -> None:
        try:
            os.remove(self._success)
        except FileNotFoundError:
            pass


# -- protocol versioning (Delta's `protocol` action) ------------------
# What THIS library build can read and write. A table carries a minimum
# protocol requirement in its log; an implementation below it must
# refuse the whole table rather than silently mis-read state whose
# actions it does not understand (the failure Delta's reader/writer
# versions exist to prevent: an old reader replaying a log containing
# e.g. deletion vectors would resurrect deleted rows).
READER_VERSION = 2
WRITER_VERSION = 2
# named capabilities this build implements, for feature-gated tables
# (Delta 3/7-style table features) — each maps to real code in this repo
SUPPORTED_READER_FEATURES = frozenset({
    "stats-skipping", "schema-in-log", "time-travel", "restore",
    "change-feed", "row-feed", "log-checkpoints", "deletion-vectors",
    "column-mapping", "rebucket"})
SUPPORTED_WRITER_FEATURES = frozenset({
    "append", "compaction", "row-delete", "txn-markers", "restore",
    "schema-evolution", "check-constraints", "column-mapping",
    "rebucket"})


class ProtocolError(RuntimeError):
    """This table requires a protocol version / feature this build does
    not implement — refusing loudly instead of mis-replaying the log."""


def _merge_protocol(cur: dict | None, new: dict | None) -> dict | None:
    """Monotone merge: field-wise max + feature union. Protocol only
    ever ratchets UP — in particular a RESTORE never downgrades it
    (Delta's rule: rollback restores data, not the protocol)."""
    if not cur:
        return dict(new) if new else None
    if not new:
        return dict(cur)
    return {
        "min_reader": max(int(cur.get("min_reader", 1)),
                          int(new.get("min_reader", 1))),
        "min_writer": max(int(cur.get("min_writer", 1)),
                          int(new.get("min_writer", 1))),
        "reader_features": sorted(set(cur.get("reader_features") or [])
                                  | set(new.get("reader_features") or [])),
        "writer_features": sorted(set(cur.get("writer_features") or [])
                                  | set(new.get("writer_features") or [])),
    }


def _check_reader_protocol(proto: dict | None) -> None:
    if not proto:
        return
    if int(proto.get("min_reader", 1)) > READER_VERSION:
        raise ProtocolError(
            f"table requires reader version {proto['min_reader']}, this "
            f"build reads up to {READER_VERSION} — upgrade the library")
    unsupported = set(proto.get("reader_features") or []) \
        - SUPPORTED_READER_FEATURES
    if unsupported:
        raise ProtocolError(
            f"table requires reader feature(s) {sorted(unsupported)} "
            "this build does not implement — upgrade the library")


def _check_writer_protocol(proto: dict | None) -> None:
    if not proto:
        return
    if int(proto.get("min_writer", 1)) > WRITER_VERSION:
        raise ProtocolError(
            f"table requires writer version {proto['min_writer']}, this "
            f"build writes up to {WRITER_VERSION} — reads may still work")
    unsupported = set(proto.get("writer_features") or []) \
        - SUPPORTED_WRITER_FEATURES
    if unsupported:
        raise ProtocolError(
            f"table requires writer feature(s) {sorted(unsupported)} "
            "this build does not implement — reads may still work")


def _rebucket_expectation_met(parts: dict, a: dict) -> bool:
    """Does a `rebucket` action's embedded expectation still describe
    the live state `parts`? Shared by snapshot replay and the
    change-feed replay so both surfaces agree version-by-version on
    whether the swap applied or was a stale no-op — two independent
    re-implementations drifting apart would let the feed deliver a
    table the snapshot never showed."""
    def _shape(pm: dict) -> dict:
        return {"files": sorted((pm or {}).get("files") or {}),
                "dv": {k: sorted(int(x) for x in v)
                       for k, v in ((pm or {}).get("dv") or {}).items()
                       if v}}
    expect = {int(k): {"files": sorted(e.get("files") or []),
                       "dv": {f2: sorted(int(x) for x in v)
                              for f2, v in (e.get("dv") or {}).items()
                              if v}}
              for k, e in (a.get("expect") or {}).items()}
    return {int(p_): _shape(m_) for p_, m_ in parts.items()} == expect


class CommitLogLedger:
    """Versioned transactional commit log — the Delta/Iceberg commit
    protocol re-expressed minimally, replacing per-partition rename
    atomicity with put-if-absent (reference analogue: the durable
    batch_objects.jsonl state machine persisted after every transition,
    base_batch_request_processor.py:300-309).

    Committed state is the REPLAY of an append-only sequence of
    numbered immutable version files (_commitlog/v<N>.json, each a list
    of actions: add/remove partition, run-success). A writer commits by
    publishing version N+1 via `os.link` (atomic create-with-content
    that FAILS if the name exists); losing a race means re-list and
    retry at the next number — optimistic concurrency, no lost
    updates. Put-if-absent is the one primitive every object store
    exposes (S3 If-None-Match, GCS if-generation-match:0, Azure ETag),
    so unlike `os.replace` this protocol's atomicity transfers to
    100 TB object-store deployments. At real scale the replay would be
    bounded by periodic snapshot/checkpoint files exactly as Delta
    does; at 10^5 partitions the raw replay is already driver-trivial.

    Data visibility is LOG-DEFINED under this backend: publish never
    renames or displaces existing data — each shard's files land under
    data/part=K/ with shard-unique names (one put per file, no
    copy-based "rename" of old data on an object store), and the commit
    action's file manifest defines which files constitute the
    partition. Read through `read_committed` (the snapshot reader);
    files orphaned by recomputed/invalidated commits are invisible to
    it and reclaimed by `vacuum` — exactly Delta's add/remove +
    VACUUM semantics.
    """

    name = "commitlog"
    log_defined_visibility = True

    # every Nth commit also writes a LOG CHECKPOINT — the full replayed
    # state at that version as one file (Delta writes parquet
    # checkpoints every 10 commits for the same reason): readers load
    # the latest checkpoint <= their target version and replay only the
    # commits after it, so read planning stays O(interval) regardless
    # of table age (a continuous-ingestion table accretes one commit
    # per appended partition per batch — 10^5+ versions in a year).
    # Version files are retained, so time travel to any version still
    # works and a corrupt/missing checkpoint degrades to a full replay.
    CKPT_INTERVAL = 16

    def __init__(self, out_dir: str, store=None) -> None:
        self.out_dir = out_dir
        self.dir = os.path.join(out_dir, "_commitlog")
        # the ONE atomicity primitive (put_if_absent): os.link locally,
        # a conditional-PUT adapter on object stores — every commit,
        # checkpoint, and retry loop below goes through it
        self.store = store or get_atomic_store()

    # -- log primitives ----------------------------------------------
    def _versions(self, upto: int | None = None) -> list[str]:
        if not os.path.isdir(self.dir):
            vs = []
        else:
            vs = sorted(fn for fn in os.listdir(self.dir)
                        if fn.startswith("v") and fn.endswith(".json"))
        if upto is not None:
            latest = int(vs[-1][1:-5]) if vs else 0
            if int(upto) > latest:
                # a nonexistent version must raise, not silently hand
                # back the head labeled as a pinned snapshot (Delta's
                # VersionNotFoundException)
                raise ValueError(
                    f"version {upto} does not exist: the log ends at "
                    f"v{latest}")
            vs = [fn for fn in vs if int(fn[1:-5]) <= int(upto)]
        return vs

    def _append(self, actions: list[dict]) -> int:
        """Publish one commit containing `actions`; returns its version."""
        os.makedirs(self.dir, exist_ok=True)
        # writer gate: a table whose protocol demands a writer version /
        # feature this build lacks must not be appended to (the replay
        # below is checkpoint-bounded — O(CKPT_INTERVAL) log files, not
        # O(table age)); the replay itself enforces the READER gate,
        # and a protocol-upgrade commit is checked against the
        # pre-upgrade requirement, which is exactly Delta's rule
        _check_writer_protocol(self._replay()[2].get("_protocol"))
        vs = self._versions()
        n = 1 + (int(vs[-1][1:-5]) if vs else 0)
        payload = json.dumps({
            "actions": actions, "writer_pid": os.getpid(),
            "ts": datetime.now(timezone.utc).isoformat()}).encode()
        # atomic put-if-absent, full content; losing the race means a
        # concurrent writer owns this number — retry at the next one
        # (optimistic concurrency, no lost updates). A lost race also
        # re-checks the writer gate: the commit we lost to may have been
        # a protocol upgrade (Delta's recheck-on-conflict rule)
        while not self.store.put_if_absent(
                os.path.join(self.dir, f"v{n:012d}.json"), payload):
            n += 1
            _check_writer_protocol(self._replay()[2].get("_protocol"))
        if n % self.CKPT_INTERVAL == 0:
            # best-effort: a failed checkpoint never fails the commit —
            # readers just replay a longer tail; racing writers compute
            # the SAME state at version n, so whichever link wins is
            # correct
            try:
                self._write_checkpoint(n)
            except Exception:
                pass
        return n

    def _checkpoints(self) -> list[int]:
        if not os.path.isdir(self.dir):
            return []
        return sorted(int(fn[5:-5]) for fn in os.listdir(self.dir)
                      if fn.startswith("ckpt-") and fn.endswith(".json"))

    def _write_checkpoint(self, version: int) -> None:
        # incremental: computing the state at `version` itself starts
        # from the previous checkpoint
        state = self._replay(upto=version)
        payload = json.dumps({
            "version": int(version),
            "parts": {str(k): v for k, v in state[0].items()},
            "success": state[1], "meta": state[2],
            "txns": state[3]}).encode()
        # a racing writer publishing the identical state first is fine
        # (both computed the same replay at `version`)
        self.store.put_if_absent(
            os.path.join(self.dir, f"ckpt-{version:012d}.json"), payload)

    def _load_checkpoint(self, upto: int | None):
        """Latest readable checkpoint at version <= upto (or any), as
        (ckpt_version, parts, success, meta) — None when absent or
        unreadable (degrade to full replay, never fail a read)."""
        for v in reversed(self._checkpoints()):
            if upto is not None and v > int(upto):
                continue
            try:
                with open(os.path.join(self.dir,
                                       f"ckpt-{v:012d}.json")) as f:
                    d = json.load(f)
                return (int(d["version"]),
                        {int(k): m for k, m in d["parts"].items()},
                        d.get("success"), d.get("meta") or {},
                        {str(k): int(v) for k, v in
                         (d.get("txns") or {}).items()})
            except Exception:
                continue
        return None

    def _replay(self, upto: int | None = None
                ) -> tuple[dict[int, dict | None], dict | None, dict,
                           dict[str, int]]:
        vs = self._versions(upto)  # also validates version-not-found
        ck = self._load_checkpoint(upto)
        if ck is not None:
            base_v, parts, success, meta, txns = ck
            vs = [fn for fn in vs if int(fn[1:-5]) > base_v]
        else:
            parts, success, meta, txns = {}, None, {}, {}
        for fn in vs:
            try:
                with open(os.path.join(self.dir, fn)) as f:
                    commit = json.load(f)
            except Exception:
                continue  # unreadable version: skip (never half-written
                # — os.link publishes complete content or nothing)
            for a in commit.get("actions", []):
                t = a.get("type")
                if t == "add":
                    parts[int(a["part"])] = a.get("marker")
                elif t == "add_files":
                    # incremental append (curator_spark.incremental): merge
                    # this run's files into the partition's manifest — the
                    # partition becomes multi-run, and `runs` records every
                    # contributor so revalidation can refuse a recompute
                    # that would drop appended rows
                    p = int(a["part"])
                    m = dict(parts.get(p) or {
                        "run_id": a.get("run_id"), "part": p,
                        "status": "COMMITTED", "n_rows": 0, "files": {}})
                    m["files"] = dict(m.get("files") or {})
                    m["files"].update(a.get("files") or {})
                    if a.get("stats"):
                        m["stats"] = dict(m.get("stats") or {})
                        m["stats"].update(a["stats"])
                    m["n_rows"] = int(m.get("n_rows", 0)) + int(a.get("n_rows", 0))
                    runs = list(m.get("runs")
                                or ([m["run_id"]] if m.get("run_id") else []))
                    if a.get("run_id") and a["run_id"] not in runs:
                        runs.append(a["run_id"])
                    m["runs"] = runs
                    if a.get("updated_at"):
                        m["updated_at"] = a["updated_at"]
                    parts[p] = m
                elif t in ("compact", "delete"):
                    # file-set swap: compaction (row-preserving rewrite)
                    # and row-level delete (filtered rewrite) share one
                    # replay rule — swap remove_files for add_files,
                    # then recompute n_rows from the surviving manifest
                    # (a no-op for compact, the row-count change for
                    # delete). Applied ONLY if every removed file is
                    # still referenced — a concurrent recompute that
                    # replaced the manifest makes this swap stale, and a
                    # stale swap must not resurrect dead files; its
                    # outputs are unreferenced orphans vacuum reclaims
                    # (Delta's conflict rule for OPTIMIZE vs overwrite).
                    p = int(a["part"])
                    m = parts.get(p)
                    rm = a.get("remove_files") or []
                    if m and m.get("files") and \
                            set(rm) <= set(m["files"]):
                        files = dict(m["files"])
                        for fn in rm:
                            files.pop(fn)
                        files.update(a.get("add_files") or {})
                        m = dict(m)
                        m["files"] = files
                        # deletion vectors ride their file: a swap that
                        # removes a DV'd file MATERIALIZED the dv in
                        # its rewrite (compact/delete read minus-dv),
                        # so the mask is dropped with the original
                        dv = {k: v for k, v in (m.get("dv") or {}).items()
                              if k in files}
                        if dv:
                            m["dv"] = dv
                        else:
                            m.pop("dv", None)
                        m["n_rows"] = sum(int(v.get("n_rows", 0))
                                          for v in files.values()) \
                            - sum(len(v) for v in dv.values())
                        stats = dict(m.get("stats") or {})
                        for fn in rm:
                            stats.pop(fn, None)
                        stats.update(a.get("stats") or {})
                        if stats:
                            m["stats"] = stats
                        if a.get("updated_at"):
                            m["updated_at"] = a["updated_at"]
                        parts[p] = m
                elif t == "add_dv":
                    # deletion vector (Delta's DV shape, inlined in the
                    # log): mark row positions of ONE immutable file
                    # deleted without rewriting it — a k-row delete
                    # costs O(k) log bytes instead of O(file). Masks
                    # union monotonically; the same stale rule as
                    # swaps applies (a dv against a file no longer
                    # referenced must not resurrect it).
                    p = int(a["part"])
                    m = parts.get(p)
                    fn_ = a.get("file")
                    if m and fn_ in (m.get("files") or {}):
                        m = dict(m)
                        dv = {k: list(v) for k, v in
                              (m.get("dv") or {}).items()}
                        dv[fn_] = sorted(
                            set(dv.get(fn_) or [])
                            | {int(r) for r in (a.get("rows") or [])})
                        m["dv"] = dv
                        m["n_rows"] = sum(
                            int(v.get("n_rows", 0))
                            for v in m["files"].values()) \
                            - sum(len(v) for v in dv.values())
                        if a.get("updated_at"):
                            m["updated_at"] = a["updated_at"]
                        parts[p] = m
                elif t == "add_stats":
                    # advisory stats patch (bloom index build): merged
                    # per (file, column) ONLY while the file is still
                    # referenced — a concurrent rewrite makes the patch
                    # a stale no-op (the standard conflict rule), and a
                    # reader that skipped this action type merely loses
                    # pruning, never correctness (stats are hints)
                    p = int(a["part"])
                    m = parts.get(p)
                    if m and m.get("files"):
                        patch = {fn: st for fn, st in
                                 (a.get("stats") or {}).items()
                                 if fn in m["files"]}
                        if patch:
                            m = dict(m)
                            stats = {fn_: dict(v) for fn_, v in
                                     (m.get("stats") or {}).items()}
                            for fn, st in patch.items():
                                cur = dict(stats.get(fn) or {})
                                for c, cst in st.items():
                                    cur[c] = {**(cur.get(c) or {}),
                                              **cst}
                                stats[fn] = cur
                            m["stats"] = stats
                            parts[p] = m
                elif t == "remove":
                    parts.pop(int(a["part"]), None)
                elif t == "run_success":
                    success = {"run_id": a["run_id"],
                               "n_parts": a["n_parts"]}
                elif t == "clear_run_success":
                    success = None
                elif t == "table_meta":
                    # table-level metadata (Delta's metaData action):
                    # latest commit wins, key-merged so independent
                    # facets (bucket spec, future schema info) coexist
                    meta.update(a.get("meta") or {})
                elif t == "txn":
                    # idempotent-writer marker (Delta's txn action): a
                    # streaming/batch writer records the highest work
                    # unit (epoch, batch id) it has FULLY committed
                    # under its application id; a replayed unit at or
                    # below the mark is skipped before any work.
                    # Monotone max: a late-arriving lower mark (e.g. a
                    # crashed racer's replay) never winds the app back.
                    app = str(a["app_id"])
                    v_ = int(a["txn_version"])
                    prev = txns.get(app)
                    txns[app] = v_ if prev is None else max(prev, v_)
                elif t == "protocol":
                    # protocol requirement ratchet (Delta's `protocol`
                    # action): monotone merge so requirements only ever
                    # tighten; enforcement happens once, after replay
                    meta["_protocol"] = _merge_protocol(
                        meta.get("_protocol"), a.get("protocol"))
                elif t == "restore":
                    # RESTORE TABLE ... TO VERSION AS OF (Delta's
                    # RESTORE): the action embeds the FULL state at the
                    # target version (like a checkpoint, computed by the
                    # writer at commit time), and replay replaces live
                    # state wholesale — partitions, run-success, table
                    # metadata, and writer txn marks all roll back
                    # together. History is preserved: the rollback is
                    # itself a new version, and the rolled-back era
                    # stays time-travel-readable until vacuum reclaims
                    # its now-unreferenced files. The PROTOCOL is the
                    # one facet that does NOT roll back (Delta's rule):
                    # merge keeps the strongest requirement either side
                    # carries.
                    proto = meta.get("_protocol")
                    parts = {int(k): m for k, m in
                             (a.get("parts") or {}).items()}
                    success = a.get("success")
                    meta = dict(a.get("meta") or {})
                    meta_proto = _merge_protocol(proto,
                                                 meta.get("_protocol"))
                    if meta_proto:
                        meta["_protocol"] = meta_proto
                    txns = {str(k): int(v_) for k, v_ in
                            (a.get("txns") or {}).items()}
                elif t == "rebucket":
                    # whole-table bucket-spec change (Iceberg's REPLACE
                    # PARTITION SPEC, made eager by a full rewrite so
                    # the table never holds two specs at once — this
                    # repo's pruning derives from ONE spec in
                    # table_meta). The action embeds the EXPECTED live
                    # state it was computed from (file sets AND
                    # deletion vectors per partition) and the full new
                    # manifest; replay applies it only when live state
                    # still matches — any concurrent add/compact/
                    # delete/dv between the rebucket's snapshot read
                    # and its commit makes the whole swap a stale
                    # no-op (its outputs are orphans vacuum reclaims;
                    # the writer verifies post-commit and raises
                    # ConcurrentRebucketError). DVs are part of the
                    # expectation because the rewrite MATERIALIZES
                    # them: a mask that landed concurrently would
                    # otherwise be resurrected by the swap.
                    if _rebucket_expectation_met(parts, a):
                        parts = {int(k): m_ for k, m_ in
                                 (a.get("parts") or {}).items()}
                        meta["bucket"] = dict(a.get("bucket") or {})
        # a table demanding a reader this build isn't must be refused
        # WHOLESALE — partial understanding of a log mis-states the table
        _check_reader_protocol(meta.get("_protocol"))
        return parts, success, meta, txns

    # -- ledger interface --------------------------------------------
    def committed(self, version: int | None = None
                  ) -> dict[int, dict | None]:
        """Committed partition state — at the log head, or AS OF an
        earlier `version` (time travel: replay stops after that commit,
        exactly Delta's VERSION AS OF). Snapshots stay READABLE only
        while their files survive `vacuum`'s retention window, again as
        in Delta."""
        return self._replay(upto=version)[0]

    def snapshot(self, version: int | None = None
                 ) -> tuple[dict[int, dict | None], dict | None, dict,
                            dict[str, int]]:
        """(committed, run_success, table_meta, txns) in ONE log replay
        — read paths that need more than one facet use this instead of
        separate accessors, which would each re-open and re-parse every
        commit file (thousands of versions on a long-lived
        continuous-ingestion table)."""
        return self._replay(upto=version)

    def last_txn(self, app_id: str) -> int | None:
        """The highest txn_version this application id has committed
        (Delta's txnVersion lookup) — None if it never wrote one."""
        return self._replay()[3].get(str(app_id))

    def set_txn(self, app_id: str, txn_version: int) -> int:
        """Record that `app_id` has fully committed work unit
        `txn_version` (one log commit; replay keeps the max)."""
        return self._append([{"type": "txn", "app_id": str(app_id),
                              "txn_version": int(txn_version)}])

    def table_meta(self, version: int | None = None) -> dict:
        return self._replay(upto=version)[2]

    def version_at(self, ts) -> int:
        """TIMESTAMP AS OF: the latest commit version whose timestamp
        is <= ts (datetime, aware or naive-UTC). Raises if the first
        commit is later than ts — there was no table then."""
        from datetime import datetime as _dt, timezone as _tz
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=_tz.utc)
        best = None
        for fn in self._versions():
            try:
                with open(os.path.join(self.dir, fn)) as f:
                    committed_ts = _dt.fromisoformat(json.load(f)["ts"])
            except Exception:
                continue
            if committed_ts <= ts:
                best = int(fn[1:-5])
        if best is None:
            raise ValueError(
                f"no commit at or before {ts.isoformat()}: the table's "
                "history starts later")
        return best

    def set_table_meta(self, meta: dict) -> None:
        self._append([{"type": "table_meta", "meta": meta}])

    def latest_version(self) -> int | None:
        vs = self._versions()
        return int(vs[-1][1:-5]) if vs else None

    def history(self) -> list[dict]:
        """One row per commit, oldest first: {version, ts, writer_pid,
        operations (action-type counts), parts (touched)} — the DESCRIBE
        HISTORY surface, derived purely from the immutable log."""
        out = []
        for fn in self._versions():
            try:
                with open(os.path.join(self.dir, fn)) as f:
                    commit = json.load(f)
            except Exception:
                continue
            ops: dict[str, int] = {}
            parts: set[int] = set()
            for a in commit.get("actions", []):
                ops[a.get("type", "?")] = ops.get(a.get("type", "?"), 0) + 1
                if "part" in a:
                    parts.add(int(a["part"]))
            out.append({"version": int(fn[1:-5]), "ts": commit.get("ts"),
                        "writer_pid": commit.get("writer_pid"),
                        "operations": ops, "parts": sorted(parts)})
        return out

    def commit_part(self, marker: dict) -> None:
        self._append([{"type": "add", "part": int(marker["part"]),
                       "marker": marker}])

    def append_part(self, part: int, files: dict, n_rows: int,
                    run_id: str, stats: dict | None = None) -> None:
        """Merge `files` into the partition's committed manifest (the
        incremental-append commit). One atomic log version; replay
        accumulates files/n_rows and records run_id in `runs`."""
        self._append([{"type": "add_files", "part": int(part),
                       "files": files, "n_rows": int(n_rows),
                       "run_id": run_id, "stats": stats or {},
                       "updated_at":
                       datetime.now(timezone.utc).isoformat()}])

    def drop_part(self, part: int) -> None:
        self._append([{"type": "remove", "part": int(part)}])

    def compact_part(self, part: int, remove_files: list[str],
                     add_files: dict, stats: dict | None = None) -> None:
        """Atomically swap a partition's small files for their compacted
        rewrite. One log version; replay ignores the swap if the removed
        files are no longer referenced (stale vs a concurrent
        recompute — see the replay handler)."""
        self._append([{"type": "compact", "part": int(part),
                       "remove_files": sorted(remove_files),
                       "add_files": add_files, "stats": stats or {},
                       "updated_at":
                       datetime.now(timezone.utc).isoformat()}])

    def delete_rewrite(self, part: int, remove_files: list[str],
                       add_files: dict, stats: dict | None = None) -> int:
        """Row-level delete as a file-set swap (Delta's DELETE shape):
        the touched files' filtered rewrites replace them in one log
        version; replay recomputes n_rows from the surviving manifest
        and applies the same stale-swap conflict rule as compaction.
        Returns the committed version so the caller can verify the swap
        actually applied (DELETE, unlike compaction, is not
        row-preserving — a silently-ignored stale swap loses a
        right-to-be-forgotten request)."""
        return self._append([{"type": "delete", "part": int(part),
                              "remove_files": sorted(remove_files),
                              "add_files": add_files, "stats": stats or {},
                              "updated_at":
                              datetime.now(timezone.utc).isoformat()}])

    def merge_commit(self, actions: list[dict]) -> int:
        """Publish a MERGE's full action set — per-partition file swaps
        (``delete`` actions carrying the matched legs' rewrites) plus
        ``add_files`` actions carrying the not-matched inserts — as ONE
        atomic log version, so readers never observe the updates
        without the inserts (Delta writes MERGE the same way: one
        commit, many remove/add actions). Each action replays under its
        own existing rule, including the stale-swap conflict rule the
        caller (merge.py) verifies post-commit. Returns the version."""
        return self._append(list(actions))

    def add_dv(self, marks: list[tuple[int, str, list[int]]]) -> int:
        """Publish deletion vectors: for each (part, file, positions),
        mark those row indexes of the immutable file deleted — no data
        rewrite (Delta's deletion-vector action, inlined in the log:
        right-sized for targeted deletes, where a k-row
        right-to-be-forgotten costs O(k) bytes; bulk deletes belong to
        the rewrite path). ONE atomic commit across every touched
        partition; replay unions masks and ignores marks against
        files no longer referenced (same stale rule as swaps).
        Returns the committed version."""
        now = datetime.now(timezone.utc).isoformat()
        return self._append([
            {"type": "add_dv", "part": int(p), "file": str(fn),
             "rows": sorted({int(r) for r in rows}), "updated_at": now}
            for p, fn, rows in marks])

    def restore(self, to_version: int, parts: dict[int, dict | None],
                success: dict | None, meta: dict,
                txns: dict[str, int] | None = None) -> int:
        """Publish a rollback commit embedding the full state at
        `to_version`; returns the new version. Last-writer-wins at the
        log level (as in Delta): a commit racing in between the state
        read and this publish is rolled back with everything else."""
        return self._append([{
            "type": "restore", "to_version": int(to_version),
            "parts": {str(k): m for k, m in parts.items()},
            "success": success, "meta": meta, "txns": txns or {},
            "updated_at": datetime.now(timezone.utc).isoformat()}])

    def rebucket(self, expect: dict, parts: dict, bucket: dict) -> int:
        """Publish a whole-table bucket-spec change (Iceberg's REPLACE
        PARTITION SPEC, made EAGER by a full rewrite so the table never
        holds two specs at once — this repo's partition pruning derives
        from the ONE spec in table_meta): a single log version carrying
        the expected live state it was computed from (file sets AND
        deletion vectors per partition — the rewrite materializes
        masks, so a concurrently-landed mask must invalidate the swap),
        the complete new per-partition manifest, and the new spec.
        Replay applies it only while the expectation still holds; any
        concurrent mutation makes the WHOLE swap a stale no-op (the
        caller verifies post-commit and raises ConcurrentRebucketError
        — like DELETE, a silently-ignored rebucket would leave the
        caller believing the new layout is live). Returns the version."""
        return self._append([{
            "type": "rebucket",
            "expect": {str(k): e for k, e in expect.items()},
            "parts": {str(k): m for k, m in parts.items()},
            "bucket": dict(bucket),
            "updated_at": datetime.now(timezone.utc).isoformat()}])

    def run_success(self) -> dict | None:
        return self._replay()[1]

    def mark_run_success(self, run_id: str, n_parts: int) -> None:
        self._append([{"type": "run_success", "run_id": run_id,
                       "n_parts": int(n_parts)}])

    def drop_run_success(self) -> None:
        self._append([{"type": "clear_run_success"}])


LEDGER_BACKENDS = {"markers": MarkerLedger, "commitlog": CommitLogLedger}


def make_ledger(out_dir: str, backend: str = "markers"):
    return LEDGER_BACKENDS[backend](out_dir)


def detect_backend(out_dir: str) -> str:
    """Which ledger governs this output dir: 'commitlog' iff a
    transaction log exists. Used as the default by the read-side
    surfaces (read_committed, vacuum, run_status) so a caller can't
    accidentally interrogate a run through the wrong backend — e.g.
    vacuum'ing a markers-ledger table through an empty commit log,
    which would classify every committed file as an orphan. A commit
    log counts only when it holds at least one version (an empty
    _commitlog dir is debris, not governance); true mixed dirs cannot
    arise — run_checkpointed refuses to commit under a second backend."""
    d = os.path.join(out_dir, "_commitlog")
    if os.path.isdir(d) and any(f.startswith("v") and f.endswith(".json")
                                for f in os.listdir(d)):
        return "commitlog"
    return "markers"


def create_table(out_dir: str) -> int:
    """CREATE TABLE IF NOT EXISTS for the commitlog backend: publish an
    empty version 1 (no actions — the Delta 'create' commit analogue)
    so append-only writers (incremental appends, streaming ingestion)
    can target a fresh directory without a prior batch run. Idempotent:
    an existing commitlog table is left untouched (its head version is
    returned); a markers-governed dir is refused — mixed governance
    cannot arise."""
    existing = detect_backend(out_dir)
    if existing == "commitlog":
        return make_ledger(out_dir, "commitlog").latest_version()
    if os.path.isdir(out_dir) and any(
            f.startswith("_ledger") for f in os.listdir(out_dir)):
        raise ValueError(
            f"{out_dir} is governed by the markers ledger; refusing to "
            "overlay a commit log (mixed governance)")
    os.makedirs(out_dir, exist_ok=True)
    return make_ledger(out_dir, "commitlog")._append([])


def committed_parts(out_dir: str, backend: str = "markers") -> set[int]:
    return set(make_ledger(out_dir, backend).committed())


def part_manifest(out_dir: str, part: int,
                  lenient: bool = False) -> dict | None:
    """{file name: {n_rows, n_bytes}} for a committed partition, read
    from parquet footers + stat — no data I/O. None if the partition
    dir is missing or (strict mode) any file is unreadable/truncated.
    lenient=True instead SKIPS unreadable files — used by the
    log-defined-visibility backend, where a corrupt ORPHAN (a file no
    manifest references) must not invalidate the partition forever (a
    referenced-but-corrupt file still fails validation, because its
    manifest entry finds no on-disk match)."""
    import pyarrow.parquet as pq
    d = os.path.join(out_dir, "data", f"part={part}")
    if not os.path.isdir(d):
        return None
    out: dict = {}
    for fn in sorted(os.listdir(d)):
        if fn.endswith(".parquet"):
            fp = os.path.join(d, fn)
            try:
                out[fn] = {"n_rows": pq.ParquetFile(fp).metadata.num_rows,
                           "n_bytes": os.path.getsize(fp)}
            except Exception:  # truncated/corrupt file
                if not lenient:
                    return None
    return out


# Columns whose per-file min/max land in the commit manifest for
# read-side data skipping. Deliberately an allowlist: long free-text
# columns (text, scrubbed_text) would bloat the log with (possibly
# truncated) bounds nobody filters on, and every column here is one a
# curation consumer actually predicates over.
STATS_COLUMNS = ("conv_id", "turn_idx", "ts", "lang", "ppl",
                 "n_tokens", "keep")


def _stats_value(v):
    """Footer statistic → JSON-safe scalar, or None when the value
    cannot round-trip the log losslessly (bytes, NaN, exotic types).
    Timestamps become epoch MICROSECONDS (ints compare exactly;
    isoformat strings would not across timezones)."""
    import math
    from datetime import datetime as _dt, timedelta as _td
    if isinstance(v, bool) or isinstance(v, int):
        return v
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, str):
        return v
    if isinstance(v, _dt):
        # aware datetimes anchor at the UTC epoch (anchoring at the
        # value's OWN tzinfo would shift the micros by its UTC offset
        # and make skipping prune files that contain matching rows);
        # naive datetimes compare against a naive epoch — footer stats
        # are written session-tz UTC, so naive probes mean UTC here
        epoch = _dt(1970, 1, 1, tzinfo=timezone.utc) if v.tzinfo \
            else _dt(1970, 1, 1)
        return (v - epoch) // _td(microseconds=1)
    return None


def file_column_stats(path: str, columns=STATS_COLUMNS) -> dict:
    """Per-file {col: {"min": .., "max": .., "nulls": n}} aggregated
    over the parquet footer's row-group statistics — no data I/O (the
    footer is already read for n_rows at commit time). A column whose
    stats any row group omits (or that only holds nulls) is dropped for
    the whole file: min/max must be a sound bound over EVERY row or the
    reader would skip files that match. Parquet guarantees recorded
    min <= all values <= max, so pruning on these is exact."""
    import pyarrow.parquet as pq
    md = pq.ParquetFile(path).metadata
    POISON = "__unbounded__"
    out: dict = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for i in range(g.num_columns):
            c = g.column(i)
            col = c.path_in_schema
            if col not in columns or out.get(col) is POISON:
                continue
            s = c.statistics
            nulls = int(s.null_count) if (s is not None
                                          and s.has_null_count) else 0
            if s is None or not s.has_min_max:
                # an ALL-null row group legitimately has no min/max —
                # it constrains nothing (comparisons never match null);
                # any other stat-less row group poisons the column for
                # this file (a bound that misses rows is unsound)
                all_null = (s is not None and s.has_null_count
                            and s.num_values == 0)
                if not all_null:
                    out[col] = POISON
                elif isinstance(out.get(col), dict):
                    out[col]["nulls"] += nulls
                else:
                    out[col] = {"min": None, "max": None, "nulls": nulls}
                continue
            mn, mx = _stats_value(s.min), _stats_value(s.max)
            if mn is None or mx is None:
                out[col] = POISON
                continue
            cur = out.get(col)
            if isinstance(cur, dict):
                cur["min"] = mn if cur["min"] is None else min(cur["min"], mn)
                cur["max"] = mx if cur["max"] is None else max(cur["max"], mx)
                cur["nulls"] += nulls
            else:
                out[col] = {"min": mn, "max": mx, "nulls": nulls}
    return {k: v for k, v in out.items() if isinstance(v, dict)}


_WHERE_OPS = ("=", "<", "<=", ">", ">=")

# Named bucket transforms (Iceberg's bucket[N] partition transform).
# Partition pruning from a predicate is only sound when the reader
# applies the EXACT function the writer bucketed with, so the table's
# commit log records the function BY NAME and the registry maps it
# back: `md5full` is fixtures.part_of (full-digest mod), `md5hex8` is
# ingest.part_expr (first-8-hex-chars mod — what F.conv(substring(
# md5, 1, 8), 16, 10) computes).
BUCKET_FNS = {
    "md5full": lambda v, n: int(
        hashlib.md5(str(v).encode()).hexdigest(), 16) % int(n),
    "md5hex8": lambda v, n: int(
        hashlib.md5(str(v).encode()).hexdigest()[:8], 16) % int(n),
}


def _bloom_pos_py(sval: str, i: int, m_bits: int) -> int:
    """Position i of a value's bloom signature — md5 of 'i|str(value)',
    first 8 hex digits mod m. MUST stay bit-identical to the Spark-side
    expression in build_bloom_index (the repo's md5 cross-engine
    discipline, same as operators/dedup's bloom)."""
    import hashlib
    return int(hashlib.md5(
        f"{i}|{sval}".encode()).hexdigest()[:8], 16) % int(m_bits)


def _bloom_may_contain(s: dict, val) -> bool:
    """True unless the per-file bloom PROVES `val` absent. Values hash
    by their string form (build casts the column to string), so only
    string/integer columns should be indexed — float formatting is not
    canonical across engines."""
    import base64
    try:
        bits = base64.b64decode(s["bloom"])
        m = int(s.get("bloom_m") or len(bits) * 8)
        k = int(s.get("bloom_k") or 4)
    except Exception:
        return True  # malformed index: advisory only, never unsound
    sval = str(val)
    for i in range(k):
        j = _bloom_pos_py(sval, i, m)
        if not (bits[j // 8] >> (j % 8)) & 1:
            return False
    return True


def build_bloom_index(spark: SparkSession, out_dir: str, col: str,
                      m_bits: int = 2048, k: int = 4,
                      backend: str | None = None) -> dict:
    """Build a per-file BLOOM FILTER INDEX for `col` (Delta's bloom
    filter index / Iceberg's bloom write property, as a maintenance
    pass): after this, every EQUALITY probe on the column — read_committed
    where=, snapshot_files, delete_conversations(key=col),
    delete_rows_dv — skips files the bloom proves hold no matching row.

    Why it matters at 100 TB: min/max stats prune range probes and
    clustered keys, but a point lookup on a HIGH-CARDINALITY,
    NON-CLUSTERED column (user_id on a conv_id-bucketed table — the
    right-to-be-forgotten shape) matches every file's [min, max]. A
    2048-bit bloom per (file, column) gives ~1e-3 false-positive rate
    at 200 distinct values/file (p ≈ (1-e^(-kn/m))^k) and costs ~344
    base64 chars of log metadata per file.

    Plan shape: ONE column-pruned scan of the committed files
    (`_metadata.file_path` + the column), distinct (file, value) pairs,
    explode to k positions, groupBy(file) collecting ≤ m_bits ints —
    driver state is positions-per-file, never values. The index commits
    as `add_stats` actions in one atomic version; replay merges them
    into file stats ONLY while the file is still referenced, so a
    concurrent compaction makes the patch a stale no-op (the standard
    conflict rule) and the rewritten file simply reads unindexed until
    the next build. Deletion-vector-masked rows stay in the bloom —
    false positives only, never unsound. Blooms ride stats under the
    PHYSICAL column name (column mapping translates probes).

    Returns {files_indexed, parts, version, column}."""
    import base64

    from pyspark.sql.types import StructField, StructType

    ledger = make_ledger(out_dir, backend or detect_backend(out_dir))
    if not getattr(ledger, "log_defined_visibility", False):
        raise ValueError("bloom index requires the commitlog ledger "
                         "(the index lives in commit stats)")
    committed, _s, meta, _t = ledger.snapshot()
    pcol = physical_name(meta, col)
    pstruct = physical_struct(meta)
    if pstruct is None or pcol not in [f.name for f in pstruct.fields]:
        raise ValueError(f"no column {col!r} in the table schema")
    ftype = next(f for f in pstruct.fields if f.name == pcol).dataType
    if ftype.typeName() in ("double", "float"):
        raise ValueError("bloom index on a float column is unsound "
                         "(string forms are not canonical across "
                         "engines); index string/integer columns")
    data_dir = os.path.join(out_dir, "data")
    by_file_part: dict[str, int] = {}
    paths = []
    for part, marker in sorted(committed.items()):
        for fn in sorted((marker or {}).get("files") or {}):
            paths.append(os.path.join(data_dir, f"part={int(part)}", fn))
            by_file_part[f"part={int(part)}/{fn}"] = int(part)
    if not paths:
        return {"files_indexed": 0, "parts": [], "version": None,
                "column": col}
    df = (spark.read.schema(StructType([StructField(pcol, ftype, True)]))
          .option("basePath", data_dir).parquet(*paths))
    fparts = F.split(F.col("_metadata.file_path"), "/")
    sfx = F.concat_ws("/", F.element_at(fparts, -2),
                      F.element_at(fparts, -1))
    vals = (df.select(sfx.alias("f"),
                      F.col(pcol).cast("string").alias("v"))
            .where(F.col("v").isNotNull()).distinct())
    pos = vals.select("f", F.explode(F.array(*[
        (F.conv(F.substring(F.md5(F.concat_ws(
            "|", F.lit(str(i)), F.col("v"))), 1, 8), 16, 10)
         .cast("long") % F.lit(int(m_bits))).cast("int")
        for i in range(int(k))])).alias("p"))
    rows = (pos.groupBy("f")
            .agg(F.collect_set("p").alias("ps")).collect())
    by_part: dict[int, dict] = {}
    n_files = 0
    for r in rows:
        part = by_file_part.get(r["f"])
        if part is None:
            continue
        bits = bytearray(int(m_bits) // 8)
        for j in r["ps"]:
            bits[j // 8] |= 1 << (j % 8)
        fn = r["f"].split("/", 1)[1]
        by_part.setdefault(part, {})[fn] = {pcol: {
            "bloom": base64.b64encode(bytes(bits)).decode(),
            "bloom_m": int(m_bits), "bloom_k": int(k)}}
        n_files += 1
    actions = [{"type": "add_stats", "part": p, "stats": st}
               for p, st in sorted(by_part.items())]
    ver = ledger._append(actions) if actions else None
    return {"files_indexed": n_files, "parts": sorted(by_part),
            "version": ver, "column": col}


def _normalize_where(where):
    """Accept one (col, op, value) triple or a list of them (ANDed)."""
    if where is None:
        return []
    if isinstance(where, tuple):
        where = [where]
    out = []
    for col, op, val in where:
        if op not in _WHERE_OPS:
            raise ValueError(f"unsupported op {op!r}; one of {_WHERE_OPS}")
        out.append((str(col), op, val))
    return out


def _file_may_match(stats: dict | None, col: str, op: str, val) -> bool:
    """False only when the file's [min, max] PROVES no row satisfies
    `col op val` — missing/foreign-kind stats keep the file (skipping
    must never drop a matching row). Null-only columns never satisfy a
    comparison, so {"min": None} prunes."""
    from datetime import datetime as _dt
    s = (stats or {}).get(col)
    if not isinstance(s, dict):
        return True
    if op == "=" and s.get("bloom") and val is not None \
            and not _bloom_may_contain(s, val):
        # Bloom filter index (build_bloom_index): definitive ABSENCE
        # for an equality probe — false positives keep the file, never
        # the reverse, so pruning here is exact
        return False
    if "min" not in s or "max" not in s:
        return True  # bloom-only stats entry: no range information
    mn, mx = s.get("min"), s.get("max")
    if mn is None or mx is None:
        return False  # every value in this file is null
    if isinstance(val, _dt):
        val = _stats_value(val)
    numeric = lambda x: isinstance(x, (int, float)) \
        and not isinstance(x, bool)  # noqa: E731
    if isinstance(val, float) and val != val:
        # NaN literal: every Python comparison below is False, which
        # would prune EVERY file — while Spark orders NaN above all
        # doubles and NaN==NaN is true under its semantics, so rows can
        # match. Never prune on a NaN probe.
        return True
    same_kind = (type(val) is type(mn)
                 or (numeric(val) and numeric(mn))
                 or (isinstance(val, bool) and isinstance(mn, bool)))
    if not same_kind:
        return True
    if (isinstance(mn, float) or isinstance(mx, float)) \
            and op in (">", ">="):
        # Spark orders NaN ABOVE every double, while parquet writers'
        # min/max treatment of NaN varies (omitted, poisoned, or
        # silently ignored depending on writer version). A file whose
        # recorded max is finite could still hold NaN rows that satisfy
        # `col > v` under Spark semantics — never prune those ops on
        # float stats. (< / <= / = are safe: NaN satisfies none of
        # them, so the finite bounds remain sound.)
        return True
    if op == "=":
        return mn <= val <= mx
    if op == "<":
        return mn < val
    if op == "<=":
        return mn <= val
    if op == ">":
        return mx > val
    return mx >= val  # >=


def _merge_schema_json(old: dict, new: dict) -> dict:
    """Additive schema evolution (Delta's mergeSchema rule): columns in
    `new` that `old` lacks are APPENDED (and must be nullable — old
    files have no values for them); a type change on an existing column
    is refused (it would silently corrupt reads of old files)."""
    by_name = {f["name"]: f for f in old["fields"]}
    out = [dict(f) for f in old["fields"]]
    for f in new["fields"]:
        g = by_name.get(f["name"])
        if g is None:
            if not f.get("nullable", True):
                raise ValueError(
                    f"schema evolution: new column {f['name']!r} must be "
                    "nullable (existing files hold no values for it)")
            out.append(dict(f))
        elif g["type"] != f["type"]:
            raise ValueError(
                f"schema evolution: column {f['name']!r} cannot change "
                f"type {g['type']!r} → {f['type']!r}; additive changes "
                "only")
    return {"type": "struct", "fields": out}


def record_table_schema(ledger, spark_schema) -> None:
    """Log the table's schema in table_meta (Delta's metaData action):
    reads then PLAN with the declared schema — no footer-sampling
    inference I/O — and old files simply read nulls for later-added
    columns. Idempotent; widening commits one merged-meta version."""
    if not getattr(ledger, "log_defined_visibility", False):
        return
    old = ledger.table_meta().get("schema")
    new = spark_schema.jsonValue()
    merged = _merge_schema_json(old, new) if old else new
    if merged != old:
        meta_patch = {"schema": merged}
        cm = ledger.table_meta().get("column_mapping")
        if cm and old:
            # column mapping active (ALTER happened): implicit additive
            # evolution must mint PHYSICAL names for the new logical
            # fields — fresh (never a retired physical name), so a
            # re-added column can never resurrect values a dropped
            # column left behind in old files
            have = {f["name"] for f in old["fields"]}
            added = [f["name"] for f in merged["fields"]
                     if f["name"] not in have]
            if added:
                cm = dict(cm)
                taken = set(cm.values()) | \
                    set(ledger.table_meta().get("retired_physical") or [])
                minted = False
                for name in added:
                    if name in cm:
                        continue  # pre-minted by the writer (e.g. the
                        # datasource sink stages files before commit)
                    cm[name] = _mint_physical(name, taken)
                    taken.add(cm[name])
                    minted = True
                if minted:
                    meta_patch["column_mapping"] = cm
        ledger.set_table_meta(meta_patch)


def _mint_physical(logical: str, taken: set[str]) -> str:
    """A physical column name for a new logical field: the logical name
    itself when no file has ever held that physical name, else a
    uuid-suffixed fresh one (Delta's column-mapping id rule — re-using
    a retired physical name would read a dropped column's stale values
    out of old files)."""
    if logical not in taken:
        return logical
    import uuid as _uuid
    return f"{logical}_{_uuid.uuid4().hex[:8]}"


def column_mapping(meta: dict) -> dict:
    """The table's logical→physical column map (Delta's column-mapping
    name mode). Empty dict when the feature was never activated — every
    column's physical name equals its logical name and all mapped code
    paths are no-ops. Physical names are IMMUTABLE once assigned:
    RENAME changes only the logical name, so files written before and
    after any ALTER share one physical layout and are read with one
    schema — never per-file remapping."""
    return dict(meta.get("column_mapping") or {})


def physical_name(meta: dict, col: str) -> str:
    """Physical (in-file) name of logical column `col` — identity when
    mapping is inactive or the column is unmapped (e.g. `part`, which
    is a directory-derived partition column, never in file footers)."""
    return (meta.get("column_mapping") or {}).get(col, col)


def physical_struct(meta: dict):
    """The declared READ schema over data files: the logical schema
    with every field renamed to its physical name (field order, types,
    nullability unchanged). None when the log records no schema."""
    from pyspark.sql.types import StructField, StructType
    if not meta.get("schema"):
        return None
    logical = StructType.fromJson(meta["schema"])
    cm = meta.get("column_mapping") or {}
    if not cm:
        return logical
    return StructType([
        StructField(cm.get(f.name, f.name), f.dataType, f.nullable,
                    f.metadata) for f in logical.fields])


def to_logical(df: DataFrame, meta: dict) -> DataFrame:
    """Alias a physically-named scan back to logical column names — a
    pure projection Catalyst collapses into the scan (filters and
    pruning push straight through). Columns outside the mapping (part,
    _metadata) pass through untouched. No-op when mapping is off."""
    cm = meta.get("column_mapping") or {}
    if not cm:
        return df
    phys_to_log = {p: l for l, p in cm.items()}
    return df.select([F.col(c).alias(phys_to_log[c])
                      if c in phys_to_log else F.col(c)
                      for c in df.columns])


def to_physical(df: DataFrame, meta: dict) -> DataFrame:
    """Project a logically-named DataFrame to physical column names for
    a data-file write. Every writer that lands files in a mapped table
    MUST route through this — files carry physical names by protocol
    (PROTOCOL.md §7). No-op when mapping is off."""
    cm = meta.get("column_mapping") or {}
    if not cm:
        return df
    return df.select([F.col(c).alias(cm[c]) if c in cm else F.col(c)
                      for c in df.columns])


def stats_columns(meta: dict) -> tuple:
    """The stats allowlist in PHYSICAL names — footer statistics are
    read from data files, which hold physical columns. Equals
    STATS_COLUMNS verbatim until a rename touches one of them."""
    cm = meta.get("column_mapping") or {}
    if not cm:
        return STATS_COLUMNS
    return tuple(cm.get(c, c) for c in STATS_COLUMNS)


def _refuse_mapped(meta: dict, verb: str) -> None:
    """Write verbs that have not (yet) been taught the physical-name
    projection must REFUSE on a mapped table rather than silently land
    logically-named files the physical read schema would surface as
    all-null columns."""
    if meta.get("column_mapping"):
        raise ProtocolError(
            f"{verb} does not support tables with active column "
            "mapping (ALTER history); operate via the mapping-aware "
            "verbs or restore the table to its pre-ALTER schema")


def revalidate_committed(out_dir: str, ledger=None) -> tuple[set[int], set[int]]:
    """Cache-integrity verification on resume (reference:
    base_request_processor.py:120-167 — per chunk: files exist, counts
    reconcile, else regenerate THAT chunk). For each ledger marker,
    compare its recorded file manifest against the partition's on-disk
    parquet footers; on mismatch/corruption drop the marker so the part
    is recomputed. A committed ZERO-row partition legitimately has no
    data directory — its marker records n_rows=0 with an empty
    manifest and validates against a missing dir. Returns
    (valid, invalidated)."""
    ledger = ledger or MarkerLedger(out_dir)
    log_vis = getattr(ledger, "log_defined_visibility", False)
    valid: set[int] = set()
    invalid: set[int] = set()
    for part, marker in sorted(ledger.committed().items()):
        on_disk = part_manifest(out_dir, part, lenient=log_vis)
        ok = False
        if marker is not None:
            files = marker.get("files")
            if log_vis:
                # log-defined visibility: the manifest's files must each
                # exist with matching footer rows + size; EXTRA on-disk
                # files are orphans of superseded commits, not
                # corruption (vacuum reclaims them). An empty manifest
                # (zero-row commit) is trivially satisfied.
                on = on_disk or {}
                ok = (files is not None
                      and all(on.get(name) == meta
                              for name, meta in files.items()))
            elif int(marker.get("n_rows", -1)) == 0 and not files:
                # empty partition: valid with no dir (or an empty one)
                ok = not on_disk
            elif on_disk is not None:
                if "files" in marker:
                    # file-level check: exact file set + per-file row
                    # counts and sizes — catches a same-rowcount file
                    # swap that a bare partition total would miss
                    ok = files == on_disk
                else:  # marker from an older layout: row-count reconcile
                    ok = (int(marker.get("n_rows", -1))
                          == sum(f["n_rows"] for f in on_disk.values()))
        if ok:
            valid.add(part)
        else:
            runs = (marker or {}).get("runs") or []
            if len(runs) > 1:
                # A multi-run partition (incremental appends) that fails
                # validation must NOT silently recompute: run_checkpointed
                # would rebuild it from ONE input and drop every other
                # run's appended rows. Fail loudly with the rebuild path.
                raise RuntimeError(
                    f"partition {part} failed integrity validation but "
                    f"holds appended data from runs {runs}; recomputing "
                    "from a single input would drop the appended rows — "
                    "rebuild it from the inputs recorded in _meta/ "
                    "lineage, or drop its marker explicitly")
            ledger.drop_part(part)
            invalid.add(part)
    return valid, invalid


def _commit_part(out_dir: str, run_id: str, part: int, n_rows: int,
                 ledger=None, files: dict | None = None,
                 stats: dict | None = None) -> None:
    ledger = ledger or MarkerLedger(out_dir)
    if files is None:
        files = (part_manifest(out_dir, part) or {}) if n_rows else {}
        if stats is None and files:
            d = os.path.join(out_dir, "data", f"part={int(part)}")
            stats = {fn: file_column_stats(os.path.join(d, fn))
                     for fn in files}
    ledger.commit_part({
        "run_id": run_id, "part": int(part), "status": "COMMITTED",
        "n_rows": int(n_rows),
        # file-level manifest (name → rows/bytes from footers): the
        # commit records exactly which files constitute the partition,
        # so resume validation detects swapped/extra/missing files even
        # when totals happen to agree. A zero-row partition commits an
        # empty manifest (no data dir is its valid on-disk state).
        # Under log-defined visibility the manifest is passed in
        # explicitly (this shard's files only) and IS the partition.
        "files": files,
        # per-file column min/max/null stats for read-side data
        # skipping (read_committed where=). OPTIONAL and validation-
        # inert: integrity checks compare only `files`, so stats can't
        # invalidate a partition and older markers without them read
        # fine (they just never prune).
        "stats": stats or {},
        "updated_at": datetime.now(timezone.utc).isoformat(),
    })


def _gc_stale_scratch(out_dir: str) -> None:
    """Remove _scored-* scratch dirs whose owning process is gone.

    Scratch kept by a strict stop or a mid-publish failure would
    otherwise accumulate forever (shard names carry a per-call nonce, so
    no later invocation reuses them). Each scratch root records its
    owner PID; a dir stays inspectable while its owner lives and is
    swept by the first invocation that runs after the owner exits.
    (PID checks are host-local: in cluster deployments the driver owns
    all scratch under its out_dir, so this holds.)"""
    import shutil
    for name in os.listdir(out_dir) if os.path.isdir(out_dir) else []:
        if not name.startswith("_scored-"):
            continue
        d = os.path.join(out_dir, name)
        try:
            with open(os.path.join(d, "OWNER")) as f:
                pid = int(f.read().strip())
            os.kill(pid, 0)          # raises if the process is gone
            alive = True
        except PermissionError:
            alive = True             # exists, owned by another user
        except (OSError, ValueError):
            alive = False
        if not alive:
            shutil.rmtree(d, ignore_errors=True)


def _append_metrics(out_dir: str, run_id: str, shard: str,
                    mrows, wall_ms: int) -> None:
    """Append the per-part counter rows as ONE uniquely-named parquet
    file written driver-side (pyarrow, tmp+rename): metrics are a
    handful of rows per invocation — a Spark write job would be pure
    overhead AND its shared committer staging dir (_temporary/0) is
    what concurrent shards would collide on. Schema matches
    METRICS_SCHEMA so spark.read.parquet unions all shards' files."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    mdir = os.path.join(out_dir, "_metrics")
    os.makedirs(mdir, exist_ok=True)
    created_us = int(time.time() * 1_000_000)
    tbl = pa.table({
        "run_id": pa.array([run_id] * len(mrows), pa.string()),
        "part": pa.array([int(r.part) for r in mrows], pa.int32()),
        "n_in": pa.array([int(r.n_in) for r in mrows], pa.int64()),
        "n_kept": pa.array([int(r.n_kept) for r in mrows], pa.int64()),
        "n_scrubbed": pa.array([int(r.n_scrubbed) for r in mrows], pa.int64()),
        "n_errors": pa.array([int(r.n_errors) for r in mrows], pa.int64()),
        "n_tokens": pa.array([int(r.n_tokens) for r in mrows], pa.int64()),
        "wall_ms": pa.array([wall_ms] * len(mrows), pa.int64()),
        # supersede key: when an invalidated partition recomputes, its
        # fresh metrics row REPLACES the stale one at read time (latest
        # (created_us, shard) per (run_id, part) wins in read_metrics) —
        # without this, recomputed parts double-count in run_cost and
        # break the n_kept-sum == kept-rows reconciliation
        "shard": pa.array([shard] * len(mrows), pa.string()),
        "created_us": pa.array([created_us] * len(mrows), pa.int64()),
    })
    final = os.path.join(mdir, f"metrics-{run_id}-{shard}.parquet")
    # dot-prefixed tmp: hidden from Spark's file listing, so a crash
    # mid-write can never poison subsequent _metrics reads
    tmp = os.path.join(mdir, f".metrics-{run_id}-{shard}.parquet.tmp")
    pq.write_table(tbl, tmp)
    os.replace(tmp, final)


def _list_input_parts(input_path: str) -> list[int] | None:
    """Partition list from the input's directory layout (part=K dirs) —
    no Spark job, no data scan. None when the input is not
    bucket-partitioned on disk (single-file fixtures), in which case
    the caller falls back to a column-pruned distinct scan. At 10^5
    partitions this saves one full-input job per invocation; on a real
    catalog it is the metadata listing Iceberg gives for free."""
    try:
        entries = [e.name for e in os.scandir(input_path)
                   if e.is_dir() and e.name.startswith("part=")]
    except OSError:
        return None
    parts = []
    for name in entries:
        try:
            parts.append(int(name.split("=", 1)[1]))
        except ValueError:
            return None  # value-partitioned some other way: fall back
    return sorted(parts) or None


def run_checkpointed(spark: SparkSession, input_path: str, out_dir: str,
                     params: dict | None = None,
                     only_parts: list[int] | None = None,
                     broadcast_conv_aggs: bool | None = None,
                     staged: bool = True,
                     strict: bool = False,
                     ledger_backend: str = "markers",
                     bucket: dict | None = None) -> dict:
    """Execute the pipeline with per-partition commit + resume.

    bucket: the input's bucket spec, e.g. {"col": "conv_id",
    "n_parts": 8, "fn": "md5full"} — recorded once in the commit log's
    table_meta (commitlog backend only) so snapshot reads can turn an
    equality probe on the bucketed column into partition pruning
    (Iceberg's bucket-transform pruning). Optional: without it, probes
    still skip files by manifest stats, just not whole partitions.

    only_parts limits this invocation to a subset of partitions — used
    by tests to simulate a crash after k commits (and in production to
    shard a run across jobs).

    strict: fail-all policy (reference require_all_responses,
    base_request_processor.py:398-426 — a run with missing/failed
    responses raises instead of shipping a partial dataset). Here:
    raise BEFORE publishing to data/, appending metrics, or committing
    any marker when a processed row is an error row (invalid role), so
    a rerun reprocesses cleanly with nothing double-counted; the staged
    output is kept in the invocation's scratch dir for inspection
    (path in the error message), like the reference's response files.

    Returns a summary dict {run_id, parts_committed, parts_skipped,
    parts_invalidated, wall_ms, memoized}.
    """
    t0 = time.monotonic()
    run_id = run_fingerprint(input_path, params)
    os.makedirs(out_dir, exist_ok=True)
    ledger = make_ledger(out_dir, ledger_backend)

    # One out_dir is governed by ONE ledger protocol: committing under
    # a second backend would fork the source of truth and leave every
    # auto-detecting read surface (read_committed, run_status, --status)
    # reporting whichever half it finds. Refuse up front.
    other = "commitlog" if ledger_backend == "markers" else "markers"
    other_ledger = make_ledger(out_dir, other)
    if other_ledger.committed() or other_ledger.run_success() is not None:
        raise ValueError(
            f"{out_dir} already has commits under the '{other}' ledger; "
            f"pass ledger_backend='{other}' (mixing backends in one "
            "output dir is not supported)")

    if bucket is not None:
        if bucket.get("fn") not in BUCKET_FNS or not bucket.get("col") \
                or not bucket.get("n_parts"):
            raise ValueError(
                f"bucket spec needs col/n_parts/fn with fn in "
                f"{sorted(BUCKET_FNS)}; got {bucket}")
        if getattr(ledger, "log_defined_visibility", False) \
                and ledger.table_meta().get("bucket") != bucket:
            recorded = ledger.table_meta().get("bucket")
            if recorded is not None and ledger.committed():
                # the table's committed layout was built under ANOTHER
                # spec: silently overwriting the planning truth would
                # make pruning against the existing partitions unsound
                # (and appending this input's `part` numbering would
                # interleave two layouts). A spec change on a live
                # table is a whole-table physical reorganization —
                # route it through the atomic path.
                raise ValueError(
                    f"{out_dir} is committed under bucket spec "
                    f"{recorded}; changing it to {bucket} requires "
                    "rewriting every live row — run "
                    "rebucket_table(spark, out_dir, bucket) first, "
                    "then rerun with the matching spec")
            # a WRONG spec (this repo alone has two conventions:
            # fixtures.part_of = md5full, ingest.part_expr = md5hex8)
            # would make every later equality probe silently return
            # missing rows — verify the claim against a sample of the
            # data before recording it as planning truth
            fn = BUCKET_FNS[bucket["fn"]]
            sample = (spark.read.schema(schema.TRANSCRIPTS_SCHEMA)
                      .parquet(input_path)
                      .select(bucket["col"], "part").limit(64).collect())
            for r in sample:
                want = fn(r[bucket["col"]], bucket["n_parts"])
                if int(r["part"]) != want:
                    raise ValueError(
                        f"bucket spec {bucket} does not describe this "
                        f"input: {bucket['col']}={r[bucket['col']]!r} "
                        f"hashes to part {want} but the row carries "
                        f"part {int(r['part'])}")
            ledger.set_table_meta({"bucket": dict(bucket)})

    # Every Spark job this invocation schedules carries the run's job
    # group, so cancel_run(spark, run_id) can abort the run from any
    # other thread (reference: cancel_batches,
    # base_batch_request_processor.py — cancel all of a run's submitted
    # batch jobs). Job groups are thread-local: concurrent only_parts
    # shards in separate threads each tag their own jobs. A cancelled
    # run raises out of the action mid-flight; the write-data-then-
    # marker ordering makes that indistinguishable from a crash, so the
    # next invocation simply resumes. The group is CLEARED on every
    # exit path — left sticky, the caller's next unrelated action on
    # this thread would inherit it and be killable by a late cancel.
    spark.sparkContext.setJobGroup(f"curator-run-{run_id}",
                                   f"curator_spark checkpointed run "
                                   f"{run_id} → {out_dir}",
                                   interruptOnCancel=True)
    try:
        return _run_checkpointed_grouped(
            spark, input_path, out_dir, params, only_parts,
            broadcast_conv_aggs, staged, strict, ledger, run_id, t0)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            spark.sparkContext.setLocalProperty(prop, None)


def _run_checkpointed_grouped(spark, input_path, out_dir, params,
                              only_parts, broadcast_conv_aggs, staged,
                              strict, ledger, run_id, t0) -> dict:

    # Resume trusts no marker blindly: each committed partition's footer
    # manifest must reconcile with its ledger entry, else its marker is
    # dropped and the partition recomputes (reference cache-integrity
    # verifier, base_request_processor.py:120-167). This runs BEFORE the
    # whole-run memo short-circuit, so corruption introduced after a
    # completed run is detected on every later invocation too — the
    # per-reuse contract of the reference's
    # _verify_existing_request_files.
    done, invalidated = revalidate_committed(out_dir, ledger)

    # Whole-run memoization: same fingerprint + completed marker + every
    # committed partition still validating → no-op.
    prev = ledger.run_success()
    if prev is not None and prev.get("run_id") == run_id:
        if not invalidated:
            return {"run_id": run_id, "parts_committed": 0,
                    "parts_skipped": prev.get("n_parts", 0),
                    "parts_invalidated": 0,
                    "wall_ms": 0, "memoized": True}
        ledger.drop_run_success()  # stale memo: data no longer reconciles

    if os.path.isdir(os.path.join(input_path, "_delta_log")):
        # Delta-table input: the curation job points straight at an
        # upstream Delta-published corpus (any writer's) — the import
        # half of the open-format door feeding the flagship pipeline.
        # Columns are named by the log's declared schema; extra
        # upstream columns are pruned to the transcripts shape.
        from .export_delta import read_delta
        from .ingest import N_PARTS, part_expr
        dt = read_delta(spark, input_path)
        types = {f.name: f.dataType
                 for f in schema.TRANSCRIPTS_SCHEMA.fields}
        cols = [F.col(c).cast(types[c]).alias(c)
                for c in types if c != "part" and c in dt.columns]
        part_col = F.col("part").cast("int") if "part" in dt.columns \
            else part_expr("conv_id", N_PARTS)
        transcripts = dt.select(*cols, part_col.alias("part"))
        all_parts = sorted(
            r.part for r in
            transcripts.select("part").distinct().collect())
    else:
        transcripts = spark.read.schema(
            schema.TRANSCRIPTS_SCHEMA).parquet(input_path)

        # Partition inventory from the input's directory layout when
        # it is bucket-partitioned on disk (no Spark job); single-file
        # inputs fall back to a column-pruned distinct scan.
        all_parts = _list_input_parts(input_path) or sorted(
            r.part for r in transcripts.select("part").distinct().collect()
        )
    todo = [p for p in all_parts if p not in done]
    if only_parts is not None:
        todo = [p for p in todo if p in set(only_parts)]

    if todo:
        import shutil

        # Resume anti-join, expressed as partition pruning: the filter on
        # the `part` bucket column reaches the parquet scan (PushedFilters)
        # so committed partitions are never read, let alone recomputed.
        pending = transcripts.filter(F.col("part").isin([int(p) for p in todo]))
        # Invocation-scoped scratch root: run id + todo set + a per-call
        # nonce, so concurrent shards of one run — even two launched
        # with the SAME only_parts from the same process — never share
        # staging paths.
        import uuid
        _gc_stale_scratch(out_dir)  # sweep debris of dead invocations
        shard = hashlib.md5(
            f"{','.join(map(str, todo))}|{uuid.uuid4().hex}".encode()
        ).hexdigest()[:8]
        scratch_root = os.path.join(out_dir, f"_scored-{run_id}-{shard}")
        os.makedirs(scratch_root, exist_ok=True)
        with open(os.path.join(scratch_root, "OWNER"), "w") as f:
            f.write(str(os.getpid()))
        stage_out = os.path.join(scratch_root, "out")
        keep_scratch = False
        scored = None  # the in-memory shape's persisted stage
        try:
            if staged:
                # production shape: durably materialize the scored stage
                # once (the expensive Python pass), feed the aggregation and
                # the final join from column-pruned re-scans — ~2× the
                # throughput of the in-memory persist shape at 32 cores.
                result = run_pipeline_staged(
                    spark, pending, os.path.join(scratch_root, "scored"),
                    broadcast_conv_aggs=broadcast_conv_aggs)
            else:
                scored = score_turns(pending).persist(
                    StorageLevel.MEMORY_AND_DISK)
                result = curate_scored(scored, broadcast_conv_aggs)

            # Stage THIS shard's output under its own scratch root (no two
            # concurrent jobs ever share a Hadoop committer staging dir),
            # then publish each finished partition into data/ with an
            # atomic directory swap. Disjoint todo sets → disjoint swaps,
            # so concurrent shards are safe; a crash mid-publish leaves
            # each partition either fully old or fully new (and an
            # unpublished partition has no marker → recomputes).
            #
            # Rebalance on `part` before the partitioned write: without
            # it, every upstream task can hold rows of every part,
            # producing n_tasks × n_parts tiny files (10^7 at cluster
            # scale). AQE coalesces the rebalanced output so each part
            # lands as ONE file, and splits a part larger than
            # spark.sql.adaptive.advisoryPartitionSizeInBytes across
            # several tasks (one file each) — no single-task
            # serialization of a huge part.
            tmeta: dict = {}
            if getattr(ledger, "log_defined_visibility", False):
                tmeta = ledger.table_meta()
                if tmeta.get("column_mapping"):
                    # mapped table (ALTER history): record the schema
                    # FIRST so any new logical columns get physical
                    # names minted, then land physically-named files —
                    # idempotent with the publish-time record below
                    record_table_schema(ledger, result.schema)
                    tmeta = ledger.table_meta()
            (to_physical(result.hint("rebalance", "part"), tmeta)
             .write.mode("overwrite").partitionBy("part")
             .parquet(stage_out))

            # Per-part metrics from the staged output (column-pruned scan).
            mrows = (
                to_logical(spark.read.parquet(stage_out),
                           tmeta).groupBy("part").agg(
                    F.count(F.lit(1)).alias("n_in"),
                    F.sum(F.col("keep").cast("long")).alias("n_kept"),
                    F.sum((F.col("scrubbed_text") != F.col("text")).cast("long"))
                    .alias("n_scrubbed"),
                    F.sum((~F.col("role_valid")).cast("long")).alias("n_errors"),
                    F.sum("n_tokens").alias("n_tokens"),
                ).collect()
            )

            # Fail-all policy: raise BEFORE metrics append and marker
            # commit, so a strict failure leaves no trace to double-count
            # on the rerun; the staged output stays on disk (in scratch)
            # for inspection like the reference's response files.
            if strict:
                n_err = sum(int(r.n_errors) for r in mrows)
                if n_err:
                    keep_scratch = True
                    raise RuntimeError(
                        f"strict mode: {n_err} error rows across parts "
                        f"{sorted(int(r.part) for r in mrows if r.n_errors)}; "
                        "no partitions committed this invocation "
                        f"(staged output kept at {stage_out})")

            # Publish: atomic per-partition swap of the staged part=N
            # dir (its one rebalanced file, or the few a skew split
            # made) into data/, then metrics, then markers — any prefix
            # of this sequence is recoverable (an unpublished/half-
            # published partition has no marker, so a rerun recomputes
            # it; scratch is preserved once publish begins so new rows
            # are never the casualty of a failed rename). The displaced
            # old dir is parked under a dot-prefixed name, which Spark's
            # partition discovery ignores — readers never see a bogus
            # 'part=N.old' value.
            data_dir = os.path.join(out_dir, "data")
            os.makedirs(data_dir, exist_ok=True)
            keep_scratch = True  # publish started: scratch holds new data
            record_table_schema(ledger, result.schema)  # commitlog only
            shard_files: dict[int, dict] = {}  # log-defined publish only
            shard_stats: dict[int, dict] = {}
            if getattr(ledger, "log_defined_visibility", False):
                # Log-defined publish: each staged file (one per
                # partition, more only where the rebalance split a
                # skewed one) lands under its final partition dir with
                # a shard-unique name — one put per NEW file, never a
                # rename/copy of existing data (the object-store-safe
                # shape) — and the commit's manifest defines the
                # partition. A crash between file placement and marker
                # commit leaves only invisible orphans (read_committed
                # ignores them; vacuum reclaims them).
                import pyarrow.parquet as pq
                for p in todo:
                    src = os.path.join(stage_out, f"part={int(p)}")
                    if not os.path.isdir(src):
                        continue  # partition had zero rows this run
                    dst = os.path.join(data_dir, f"part={int(p)}")
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
                    shard_files[int(p)] = man
                    shard_stats[int(p)] = stats
            else:
                for p in todo:
                    src = os.path.join(stage_out, f"part={int(p)}")
                    if not os.path.isdir(src):
                        continue  # partition had zero rows this run
                    dst = os.path.join(data_dir, f"part={int(p)}")
                    tmp_old = os.path.join(data_dir, f".old-part={int(p)}")
                    shutil.rmtree(tmp_old, ignore_errors=True)  # stale crash debris
                    if os.path.isdir(dst):
                        os.replace(dst, tmp_old)
                    os.replace(src, dst)
                    shutil.rmtree(tmp_old, ignore_errors=True)

            wall_ms = int((time.monotonic() - t0) * 1000)
            _append_metrics(out_dir, run_id, shard, mrows, wall_ms)

            staged_parts = set()
            for r in mrows:
                _commit_part(out_dir, run_id, int(r.part), int(r.n_in),
                             ledger, files=shard_files.get(int(r.part)),
                             stats=shard_stats.get(int(r.part)))
                staged_parts.add(int(r.part))
            # A todo partition that produced ZERO output rows still gets
            # a commit marker (n_rows=0, empty manifest) — without one
            # it would re-enter todo on every rerun and the whole-run
            # marker could never be written
            for p in todo:
                if int(p) not in staged_parts:
                    _commit_part(out_dir, run_id, int(p), 0, ledger,
                                 files={})
            keep_scratch = False  # fully published + committed
        finally:
            # scratch is removed on full success and on pre-publish
            # failure; it is KEPT when (a) strict mode stopped the run
            # (inspectable analogue of the reference's retained response
            # files — the error names the path) or (b) a failure hit
            # mid-publish, where scratch holds the only copy of rows not
            # yet swapped in (the rerun recomputes those markerless
            # partitions either way)
            if not keep_scratch:
                shutil.rmtree(scratch_root, ignore_errors=True)
            if scored is not None:
                scored.unpersist()

    # Lineage row (reference: db.py store_metadata upsert).
    meta_dir = os.path.join(out_dir, "_meta")
    os.makedirs(meta_dir, exist_ok=True)
    with open(os.path.join(meta_dir, f"run_{run_id}.json"), "w") as f:
        json.dump({
            "run_id": run_id, "input": input_path, "params": params or {},
            "created_at": datetime.now(timezone.utc).isoformat(),
            "parts_committed_now": todo, "parts_skipped": sorted(done),
        }, f, indent=2)

    # Whole-run marker whenever ALL parts are committed — including when
    # the final commit arrived via a sharded only_parts invocation, so
    # the production sharding path still gets run-level memoization.
    if set(all_parts) <= set(ledger.committed()):
        ledger.mark_run_success(run_id, len(all_parts))

    return {"run_id": run_id, "parts_committed": len(todo),
            "parts_skipped": len(done),
            "parts_invalidated": len(invalidated),
            "wall_ms": int((time.monotonic() - t0) * 1000), "memoized": False}


def cancel_run(spark: SparkSession, run_id: str) -> None:
    """Abort every in-flight Spark job of a checkpointed run (reference
    A34 batch cancel: cancel_batches over a run's submitted batch jobs).
    Safe at any moment: committed partitions keep their markers, the
    interrupted shard's staged work is markerless scratch, and the next
    run_checkpointed invocation resumes exactly the uncommitted parts."""
    spark.sparkContext.cancelJobGroup(f"curator-run-{run_id}")


def snapshot_files(out_dir: str, backend: str | None = None,
                   version: int | None = None,
                   where=None) -> list[str]:
    """The exact file paths a snapshot read would scan: the ledger's
    manifests at `version` (or the head), minus every file whose
    min/max column statistics PROVE it holds no row matching `where`
    (a conjunction of (col, op, literal) triples). This is the file-
    skipping half of Delta/Iceberg scan planning: at 100 TB a
    conv_id- or time-range probe touches a handful of files instead of
    the table, and the decision is made from the log alone — zero data
    I/O, zero Spark jobs. Files without recorded stats are always kept
    (skipping is sound, never speculative)."""
    return _snapshot_plan(out_dir, backend, version, where)[0]


def _snapshot_plan(out_dir: str, backend: str | None = None,
                   version: int | None = None,
                   where=None) -> tuple[list[str], dict, dict]:
    """(surviving file paths, table_meta, deletion vectors keyed by
    path) in one log replay — the shared planning core of
    snapshot_files and read_committed. A scan of any surviving file
    that carries a dv MUST mask those row positions out (the protocol
    gate makes builds that can't refuse the table wholesale)."""
    ledger = make_ledger(out_dir, backend or detect_backend(out_dir))
    if version is not None and \
            not getattr(ledger, "log_defined_visibility", False):
        raise ValueError(
            "time travel requires the commitlog ledger: the markers "
            "backend keeps no history (its dir content is only ever "
            "the current state)")
    if getattr(ledger, "log_defined_visibility", False):
        committed, _success, meta, _txns = ledger.snapshot(version=version)
        bucket = meta.get("bucket") or {}
    else:
        committed = ledger.committed()
        meta = {}
        bucket = {}
    conj = _normalize_where(where)
    # predicates arrive in LOGICAL column names; footer stats are keyed
    # by the immutable PHYSICAL names files actually hold — translate
    # once (identity when column mapping is inactive; `part` and the
    # bucket column are never renameable, so their branches below see
    # unchanged names)
    conj = [(physical_name(meta, c), op, v) for c, op, v in conj]

    # Partition-level pruning, decided from the log alone:
    # * an explicit predicate on the `part` bucket column;
    # * bucket-transform pruning (Iceberg's bucket[N]): when the log's
    #   table_meta records the bucket spec, an EQUALITY predicate on
    #   the bucketed column pins the one partition its value hashes to.
    keep_parts: set[int] | None = None

    def _restrict(parts_ok):
        nonlocal keep_parts
        keep_parts = set(parts_ok) if keep_parts is None \
            else keep_parts & set(parts_ok)

    for c, op, v in conj:
        if c == "part":
            _restrict(p for p in committed
                      if _file_may_match({"part": {"min": int(p),
                                                   "max": int(p),
                                                   "nulls": 0}},
                                         "part", op, v))
        elif (op == "=" and bucket.get("col") == c
              and bucket.get("fn") in BUCKET_FNS and bucket.get("n_parts")):
            _restrict([BUCKET_FNS[bucket["fn"]](v, bucket["n_parts"])])

    data_dir = os.path.join(out_dir, "data")
    paths = []
    dv_by_path: dict[str, list[int]] = {}
    for part, marker in sorted(committed.items()):
        if keep_parts is not None and int(part) not in keep_parts:
            continue
        files = (marker or {}).get("files") or {}
        stats = (marker or {}).get("stats") or {}
        dv = (marker or {}).get("dv") or {}
        for fn in sorted(files):
            if all(_file_may_match(stats.get(fn), c, op, v)
                   for c, op, v in conj):
                p = os.path.join(data_dir, f"part={int(part)}", fn)
                paths.append(p)
                if dv.get(fn):
                    dv_by_path[p] = [int(r) for r in dv[fn]]
    return paths, meta, dv_by_path


def _dv_suffix(path: str) -> str:
    """DV join key: the path's last two components (`part=N/file`) —
    stable across scheme/prefix differences in `_metadata.file_path`
    (file:// URIs vs plain paths) and unique within a table because
    file names are write-unique."""
    return "/".join(path.rsplit("/", 2)[-2:])


def _apply_dv(spark: SparkSession, df: DataFrame,
              dv_by_path: dict[str, list[int]]) -> DataFrame:
    """Mask deletion-vector positions out of a file-source scan using
    the parquet reader's `_metadata.file_path` + `row_index` columns —
    the Spark-native DV application: no data rewrite ever happened,
    the mask is applied at read. Two plans by dv size: a literal
    predicate (stays inside WholeStageCodegen, zero shuffle) for the
    common small-dv case, else a BROADCAST anti-join against the
    (file, row_index) pairs — still shuffle-free on the corpus side.
    Bulk deletes belong to the rewrite path, so dv volume is small by
    contract."""
    if not dv_by_path:
        return df
    total = sum(len(v) for v in dv_by_path.values())
    if total <= 4096:
        cond = None
        for path, rows in sorted(dv_by_path.items()):
            c = (F.col("_metadata.file_path").endswith(_dv_suffix(path))
                 & F.col("_metadata.row_index")
                 .isin([int(r) for r in rows]))
            cond = c if cond is None else (cond | c)
        return df.where(~cond)
    pairs = [(_dv_suffix(p), int(r))
             for p, rows in dv_by_path.items() for r in rows]
    dv_df = spark.createDataFrame(pairs, ["_dv_suffix", "_dv_row"])
    parts_ = F.split(F.col("_metadata.file_path"), "/")
    keyed = df.withColumn(
        "_dv_suffix", F.concat_ws("/", F.element_at(parts_, -2),
                                  F.element_at(parts_, -1))) \
        .withColumn("_dv_row", F.col("_metadata.row_index"))
    return (keyed.join(F.broadcast(dv_df), ["_dv_suffix", "_dv_row"],
                       "left_anti")
            .drop("_dv_suffix", "_dv_row"))


def read_committed(spark: SparkSession, out_dir: str,
                   backend: str | None = None,
                   version: int | None = None,
                   where=None, as_of=None) -> DataFrame:
    """Snapshot read: exactly the files the ledger's commit manifests
    reference — the reader half of log-defined visibility (Delta's
    snapshot scan). Orphan files from superseded or crashed commits are
    invisible here even before `vacuum` reclaims them. basePath keeps
    `part` a real partition column, so downstream partition pruning
    still works. backend=None auto-detects which ledger governs the dir
    (works for markers tables too — their manifests carry the same file
    lists).

    version: read the table AS OF that commit version (commitlog only —
    Delta's time travel). Historical snapshots stay readable while
    their files survive `vacuum`'s retention window; a vacuumed
    snapshot raises with the missing files named rather than silently
    returning a partial table.

    where: a (col, op, literal) triple or list of them (ANDed, ops
    = < <= > >=) — applied BOTH as manifest-stats file skipping (files
    whose min/max cannot match are never handed to Spark) and as a
    residual DataFrame filter, so the result is exactly the predicate's
    rows while the scan plans only the surviving files.

    When the log's table_meta records a schema (every checkpointed /
    appended commitlog table), the scan PLANS with that declared schema
    instead of footer-sampling inference — zero schema-discovery I/O,
    and files written before an additive schema evolution read nulls
    for the later-added columns."""
    from pyspark.sql.types import StructType

    from . import schema as _schema
    if as_of is not None:
        # TIMESTAMP AS OF: resolve to the latest version committed at
        # or before the datetime, then read that version
        if version is not None:
            raise ValueError("pass version OR as_of, not both")
        ledger = make_ledger(out_dir, backend or detect_backend(out_dir))
        if not getattr(ledger, "log_defined_visibility", False):
            raise ValueError("time travel requires the commitlog ledger")
        version = ledger.version_at(as_of)
    paths, meta, dv = _snapshot_plan(out_dir, backend, version, where)
    declared = StructType.fromJson(meta["schema"]) \
        if meta.get("schema") else None
    data_dir = os.path.join(out_dir, "data")
    if version is not None:
        missing = [p for p in paths if not os.path.exists(p)]
        if missing:
            raise FileNotFoundError(
                f"snapshot v{version} references {len(missing)} file(s) "
                f"already reclaimed by vacuum (e.g. {missing[0]}); "
                "historical reads are bounded by the vacuum retention "
                "window, exactly as in Delta")
    if not paths:
        df = spark.createDataFrame([], declared or _schema.OUTPUT_SCHEMA)
    elif declared is not None:
        # scan with the PHYSICAL schema (what files actually hold —
        # identical to `declared` until an ALTER renames something),
        # alias back to logical names after the dv mask; time travel
        # uses the mapping AS OF the read version, so pre-rename
        # snapshots show pre-rename names
        df = (spark.read.schema(physical_struct(meta))
              .option("basePath", data_dir).parquet(*paths))
        df = to_logical(_apply_dv(spark, df, dv), meta)
        dv = {}
    else:
        df = spark.read.option("basePath", data_dir).parquet(*paths)
    df = _apply_dv(spark, df, dv)
    for col, op, val in _normalize_where(where):
        c = F.col(col)
        df = df.filter({"=": c == val, "<": c < val, "<=": c <= val,
                        ">": c > val, ">=": c >= val}[op])
    return df


def table_column_minmax(out_dir: str, col: str,
                        backend: str | None = None,
                        version: int | None = None) -> dict:
    """Metadata-only MIN/MAX for a stats-tracked column — the
    aggregate-pushdown cousin of `table_row_count` (Delta/Iceberg
    answer these from the log the same way): the table minimum is the
    min over per-file minima recorded in commit manifests, zero data
    I/O, zero Spark jobs, valid at any time-travel version.

    Soundness is explicit, never assumed: per-file stats are EXACT
    footer values for the rows present, so min-of-mins/max-of-maxes is
    exact over the covered files — but a file without recorded stats
    (pre-stats era, non-allowlisted column) contributes unknown rows.
    `complete` is True only when EVERY live file carries stats for the
    column; when False the returned values are BOUNDS over the covered
    subset, and a caller needing exactness must scan. All-null files
    record min/max None and are covered-but-valueless."""
    ledger = make_ledger(out_dir, backend or detect_backend(out_dir))
    if version is not None and \
            not getattr(ledger, "log_defined_visibility", False):
        raise ValueError("time travel requires the commitlog ledger")
    if getattr(ledger, "log_defined_visibility", False):
        committed, _s, meta_, _t = ledger.snapshot(version=version)
        col = physical_name(meta_, col)  # stats are keyed physically
    else:
        committed = ledger.committed()
    lo = hi = None
    n_files = n_covered = 0
    any_dv = False
    for m in committed.values():
        files = (m or {}).get("files") or {}
        stats = (m or {}).get("stats") or {}
        any_dv = any_dv or bool((m or {}).get("dv"))
        for fn in files:
            n_files += 1
            st = (stats.get(fn) or {}).get(col)
            if st is None:
                continue
            n_covered += 1
            if st.get("min") is not None:
                lo = st["min"] if lo is None else min(lo, st["min"])
            if st.get("max") is not None:
                hi = st["max"] if hi is None else max(hi, st["max"])
    # a pending deletion vector may have masked the extreme value
    # itself: footer stats still BOUND the live rows, but exactness
    # needs a scan (or a compaction, which materializes the masks)
    return {"col": col, "min": lo, "max": hi, "n_files": n_files,
            "n_files_with_stats": n_covered,
            "complete": n_files > 0 and n_covered == n_files
            and not any_dv}


def table_row_count(out_dir: str, backend: str | None = None,
                    version: int | None = None) -> int:
    """Metadata-only COUNT(*): the sum of committed manifests' row
    counts — Delta answers bare counts from the log the same way. Zero
    data I/O, zero Spark jobs, valid at any time-travel version; the
    numbers are trustworthy because revalidation reconciles them
    against parquet footers on every resume."""
    ledger = make_ledger(out_dir, backend or detect_backend(out_dir))
    if version is not None and \
            not getattr(ledger, "log_defined_visibility", False):
        raise ValueError("time travel requires the commitlog ledger")
    committed = ledger.committed(version=version) \
        if version is not None else ledger.committed()
    return sum(int((m or {}).get("n_rows", 0)) for m in committed.values())


def table_changes(out_dir: str, since_version: int,
                  until_version: int | None = None,
                  backend: str | None = None) -> dict:
    """Change-data-feed at file granularity: what the data plane did in
    versions (since, until] — {inserts: {part: {file: meta}},
    rows_inserted, parts_recomputed, rows_deleted, versions}. Inserts
    are files added by `add` / `add_files` commits (new scored data);
    `compact`/`delete` swap outputs are REWRITES of existing rows and
    are never counted as inserts. An `add` over an already-committed
    partition is a recompute — reported in parts_recomputed because its
    files replace rather than extend. Consumed by read_changes for
    incremental downstream training."""
    ledger = make_ledger(out_dir, backend or detect_backend(out_dir))
    if not getattr(ledger, "log_defined_visibility", False):
        raise ValueError("table_changes requires the commitlog ledger")
    # validate bounds (raises on a version beyond the log) — a typo'd
    # since_version must not silently read as an empty feed
    ledger._versions(upto=until_version)
    ledger._versions(upto=since_version)
    seen_parts = set(ledger.committed(version=since_version))
    inserts: dict[int, dict] = {}

    def _eff(meta_: dict) -> int:
        """A feed entry's LIVE rows: physical minus any deletion-vector
        positions annotated on it (an in-window dv masks rows out of
        the very files the feed will read)."""
        return int(meta_.get("n_rows", 0)) - len(meta_.get("dv") or [])
    ins_ver: dict[tuple[int, str], int] = {}  # when each file was inserted
    # in-window inserts displaced by a later recompute/delete/remove,
    # remembered with their insert version: a RESTORE whose target
    # predates the displacement revives them, and the feed must too
    retired: dict[tuple[int, str], tuple[int, dict]] = {}
    recomputed: set[int] = set()
    rows_deleted = 0
    versions: list[int] = []

    def _inwindow_rows() -> int:
        """Feed rows attributable to THIS window (insert version past
        the cursor) — the quantity rows_deleted accounting compares;
        pre-window files a restore revives don't count (the cursor
        already covers them, and the final pass strips them)."""
        return sum(_eff(m_)
                   for p_ in inserts
                   for fn_, m_ in inserts[p_].items()
                   if ins_ver.get((p_, fn_), int(since_version) + 1)
                   > int(since_version))
    for fn in ledger._versions(upto=until_version):
        v = int(fn[1:-5])
        if v <= int(since_version):
            continue
        try:
            with open(os.path.join(ledger.dir, fn)) as f:
                commit = json.load(f)
        except Exception:
            continue
        versions.append(v)
        for a in commit.get("actions", []):
            t = a.get("type")
            if t == "add":
                p = int(a["part"])
                files = ((a.get("marker") or {}).get("files") or {})
                if p in seen_parts:
                    recomputed.add(p)
                # an `add` REPLACES the partition: earlier in-window
                # inserts are superseded, reading both would
                # double-count their content
                for fn_, meta_ in (inserts.get(p) or {}).items():
                    retired[(p, fn_)] = (ins_ver.get((p, fn_), v), meta_)
                inserts[p] = dict(files)
                for fn_ in files:
                    ins_ver[(p, fn_)] = v
                seen_parts.add(p)
            elif t == "add_files":
                p = int(a["part"])
                inserts.setdefault(p, {}).update(a.get("files") or {})
                for fn_ in (a.get("files") or {}):
                    ins_ver[(p, fn_)] = v
                seen_parts.add(p)
            elif t == "delete":
                p = int(a["part"])
                rm = a.get("remove_files") or []
                part_ins = inserts.get(p) or {}
                touched = [fn_ for fn_ in rm if fn_ in part_ins]
                add = a.get("add_files") or {}
                after = sum(int(v_.get("n_rows", 0)) for v_ in add.values())
                # a delete swaps touched files for their FILTERED
                # rewrites: when the displaced originals are in-window
                # inserts, the rewrite's SURVIVING rows replace them in
                # the feed (dropping them would make a post-delete
                # bootstrap lose live rows). A purely pre-window delete
                # contributes nothing: its rows were fed before the
                # window and cannot be un-fed (rows_deleted reports the
                # shrink).
                if part_ins and not set(rm) <= set(part_ins):
                    # the removed files are not this window's insert
                    # files (an earlier COMPACTION renamed rows across
                    # file boundaries, breaking file-level lineage) —
                    # fall back to the partition's LIVE post-delete
                    # manifest so a bootstrap reads exactly the live
                    # rows; survivors an incremental consumer already
                    # has re-feed (the at-least-once contract
                    # idempotent sinks absorb)
                    before = sum(_eff(m_) for m_ in part_ins.values())
                    for fn_, meta_ in part_ins.items():
                        retired[(p, fn_)] = (ins_ver.get((p, fn_), v),
                                             meta_)
                    live_m = ledger.committed(version=v).get(p) or {}
                    live_dv = live_m.get("dv") or {}
                    files = {
                        fn_: ({**dict(m_), "dv": list(live_dv[fn_])}
                              if live_dv.get(fn_) else dict(m_))
                        for fn_, m_ in
                        (live_m.get("files") or {}).items()}
                    if files:
                        inserts[p] = files
                        for fn_ in files:
                            ins_ver[(p, fn_)] = v
                    else:
                        inserts.pop(p, None)
                    now_rows = sum(_eff(m_) for m_ in files.values())
                    rows_deleted += max(0, before - now_rows)
                elif touched:
                    before = sum(_eff(part_ins[fn_]) for fn_ in touched)
                    for fn_ in touched:
                        retired[(p, fn_)] = (ins_ver.get((p, fn_), v),
                                             part_ins.pop(fn_))
                    part_ins.update(add)
                    if part_ins:
                        inserts[p] = part_ins
                    else:
                        inserts.pop(p, None)
                    for fn_ in add:
                        ins_ver[(p, fn_)] = v
                    rows_deleted += max(0, before - after)
                elif rm:
                    # purely PRE-WINDOW delete (the partition has no
                    # in-window inserts — the common shape: deleting old
                    # data a regular consumer fed long ago). The rows
                    # cannot be un-fed, but rows_deleted is the
                    # downstream right-to-be-forgotten signal and must
                    # still report the shrink. The removed files' row
                    # counts live in the pre-delete manifest; the same
                    # lookup applies replay's stale-swap rule (a swap
                    # whose removed files were already replaced was
                    # ignored and shrank nothing).
                    prev_files = ((ledger.committed(version=v - 1)
                                   .get(p) or {}).get("files") or {})
                    if set(rm) <= set(prev_files):
                        prev_dv = (ledger.committed(version=v - 1)
                                   .get(p) or {}).get("dv") or {}
                        before = sum(
                            int((prev_files[fn_] or {}).get("n_rows", 0))
                            - len(prev_dv.get(fn_) or [])
                            for fn_ in rm)
                        rows_deleted += max(0, before - after)
            elif t == "add_dv":
                # deletion vector: rows of ONE immutable file masked
                # out in place. An in-window insert must now be fed
                # MINUS the mask (the dv annotation rides the feed
                # entry and read_changes applies it); pre-window rows
                # cannot be un-fed, but rows_deleted still reports the
                # shrink (the right-to-be-forgotten signal). Re-marks
                # of already-masked positions shrink nothing.
                p = int(a["part"])
                fn_ = a.get("file")
                new_pos = {int(r) for r in (a.get("rows") or [])}
                part_ins = inserts.get(p) or {}
                if fn_ in part_ins:
                    meta_ = dict(part_ins[fn_])
                    cur = set(meta_.get("dv") or [])
                    fresh = new_pos - cur
                    meta_["dv"] = sorted(cur | new_pos)
                    part_ins[fn_] = meta_
                    inserts[p] = part_ins
                    rows_deleted += len(fresh)
                else:
                    prev_m = ledger.committed(version=v - 1).get(p) or {}
                    in_prev = fn_ in (prev_m.get("files") or {})
                    if part_ins and in_prev:
                        # the masked file is OUTSIDE this window's
                        # insert lineage while the partition HAS
                        # in-window inserts: an earlier compaction
                        # renamed rows across file boundaries — the
                        # same lineage break as the delete fallback
                        # above. Reading the original insert files
                        # would now DELIVER the masked-out rows, so
                        # canonicalize the feed entry to the live
                        # post-dv manifest; survivors an incremental
                        # consumer already has re-feed (the
                        # at-least-once contract idempotent sinks
                        # absorb).
                        before = sum(_eff(m_) for m_ in part_ins.values())
                        for f2, meta_ in part_ins.items():
                            retired[(p, f2)] = (ins_ver.get((p, f2), v),
                                                meta_)
                        live_m = ledger.committed(version=v).get(p) or {}
                        live_dv = live_m.get("dv") or {}
                        files = {
                            f2: ({**dict(m_), "dv": list(live_dv[f2])}
                                 if live_dv.get(f2) else dict(m_))
                            for f2, m_ in
                            (live_m.get("files") or {}).items()}
                        if files:
                            inserts[p] = files
                            for f2 in files:
                                ins_ver[(p, f2)] = v
                        else:
                            inserts.pop(p, None)
                        now_rows = sum(_eff(m_) for m_ in files.values())
                        rows_deleted += max(0, before - now_rows)
                    elif in_prev:
                        prev_dv = set(
                            (prev_m.get("dv") or {}).get(fn_) or [])
                        rows_deleted += len(new_pos - prev_dv)
            elif t == "remove":
                # a dropped partition's in-window inserts must leave the
                # feed with it (its pre-window rows were already fed and
                # cannot be un-fed). rows_deleted reports the FULL
                # shrink — the partition's live row count just before
                # the drop (pre-window rows included: a consumer that
                # fed them long ago still needs the forget signal),
                # falling back to the in-window insert total when the
                # part is somehow absent from the prior state.
                p = int(a["part"])
                dropped = inserts.pop(p, None) or {}
                for fn_, meta_ in dropped.items():
                    retired[(p, fn_)] = (ins_ver.get((p, fn_), v), meta_)
                prev_m = ledger.committed(version=v - 1).get(p) or {}
                prev_dv = prev_m.get("dv") or {}
                prev_total = sum(
                    int((m_ or {}).get("n_rows", 0))
                    - len(prev_dv.get(fn_) or [])
                    for fn_, m_ in (prev_m.get("files") or {}).items())
                rows_deleted += max(prev_total,
                                    sum(_eff(v_)
                                        for v_ in dropped.values()))
                seen_parts.discard(p)
            elif t == "restore":
                # a rollback re-points live state at OLD files — those
                # rows were fed when originally inserted, so the restore
                # contributes no inserts; but in-window inserts made
                # AFTER the restore target are discarded by it and must
                # leave the feed (feeding rows the table no longer
                # contains would poison a downstream incremental
                # trainer). The test is the INSERT VERSION, not file
                # membership in the restored state: a compaction between
                # the insert and the target renames files while keeping
                # every row live. (In-window inserts at or before the
                # target stay in the feed; pre-window rows the rollback
                # discards are beyond file attribution, like pre-window
                # deletes above.)
                to_v = int(a.get("to_version", 0))
                # the restored state's deletion vectors ride onto the
                # canonicalized feed entries: a bootstrap after the
                # rollback must read the revived files MINUS their
                # masks, exactly as the live table does
                restored = {}
                for k, m_ in (a.get("parts") or {}).items():
                    fs = dict((m_ or {}).get("files") or {})
                    rdv = (m_ or {}).get("dv") or {}
                    restored[int(k)] = {
                        fn_: ({**dict(fm), "dv": list(rdv[fn_])}
                              if rdv.get(fn_) else dict(fm))
                        for fn_, fm in fs.items()}
                before_rows = _inwindow_rows()
                # parts the rollback drops leave the feed wholesale
                for p in list(inserts):
                    if p not in restored:
                        for fn_, meta_ in inserts[p].items():
                            retired.setdefault(
                                (p, fn_), (ins_ver.get((p, fn_), v), meta_))
                        del inserts[p]
                # ...and every restored partition that saw in-window
                # insert activity is CANONICALIZED to its restored live
                # file set (per-file patching is not enough — compaction
                # and delete rewrites rename rows across file
                # boundaries, the same lineage break as the delete
                # fallback above; and the target state may itself come
                # from an earlier in-window restore). Files keep their
                # recorded insert version when one exists (≤ target),
                # else the target version. Partitions with no in-window
                # activity stay untouched: their rows were fed before
                # the window and nothing in it changed them.
                for p, files in restored.items():
                    if p not in inserts and \
                            not any(k[0] == p for k in retired):
                        continue
                    for fn_, meta_ in (inserts.get(p) or {}).items():
                        retired.setdefault(
                            (p, fn_), (ins_ver.get((p, fn_), v), meta_))
                    if not files:
                        inserts.pop(p, None)
                        continue
                    inserts[p] = files
                    for fn_ in files:
                        rv = retired.get((p, fn_))
                        ins_ver[(p, fn_)] = rv[0] \
                            if rv is not None and rv[0] <= to_v else to_v
                rows_deleted += max(0, before_rows - _inwindow_rows())
                # after a rollback the live parts are exactly the
                # restored set — a later `add` on one of them replaces
                # content (a recompute), on anything else it's fresh
                seen_parts = set(restored)
            elif t == "rebucket":
                # whole-table physical reorganization: row-preserving
                # (like compaction, it inserts and deletes nothing) but
                # rows MOVE ACROSS PARTITIONS, so file-level lineage
                # breaks table-wide — a later delete lands on a NEW
                # partition number and could never trigger the per-part
                # lineage fallbacks above, letting the feed deliver
                # rows the table no longer holds. Staleness first: the
                # feed must agree with snapshot replay version-by-
                # version on whether the swap applied.
                if _rebucket_expectation_met(
                        ledger.committed(version=v - 1), a):
                    if inserts:
                        # in-window inserts are now indistinguishably
                        # mixed across the new layout: canonicalize the
                        # WHOLE feed to the new live manifest. This
                        # re-feeds pre-window rows too — the price of a
                        # physical reorg mid-window, absorbed by the
                        # at-least-once contract (poll the feed before
                        # rebucketing to avoid it); losing the
                        # in-window rows is not an option.
                        before_rows = _inwindow_rows()
                        for p in list(inserts):
                            for fn_, meta_ in inserts[p].items():
                                retired.setdefault(
                                    (p, fn_),
                                    (ins_ver.get((p, fn_), v), meta_))
                            del inserts[p]
                        for k, m_ in (a.get("parts") or {}).items():
                            fs = dict((m_ or {}).get("files") or {})
                            if fs:
                                inserts[int(k)] = {f2: dict(fm)
                                                   for f2, fm in
                                                   fs.items()}
                                for f2 in fs:
                                    ins_ver[(int(k), f2)] = v
                        # row-preserving: nothing shrinks (guard anyway)
                        rows_deleted += max(0, before_rows
                                            - _inwindow_rows())
                    # pre-window rows with no in-window activity were
                    # fed long ago and are unchanged: nothing to do.
                    # Either way the live parts are now exactly the new
                    # layout — a later `add` on one is a recompute
                    seen_parts = {int(k) for k in (a.get("parts")
                                                   or {})}
    # final pass: anything whose insert version is AT OR BEFORE the
    # window start was live-and-delivered before the cursor — it can
    # re-enter `inserts` only via restore canonicalization reviving a
    # pre-window era, and the consumer already has those rows
    for p in list(inserts):
        stale = [fn_ for fn_ in inserts[p]
                 if ins_ver.get((p, fn_), since_version + 1)
                 <= int(since_version)]
        for fn_ in stale:
            inserts[p].pop(fn_)
        if not inserts[p]:
            del inserts[p]
    rows = sum(_eff(m) for fs in inserts.values() for m in fs.values())
    return {"inserts": inserts, "rows_inserted": rows,
            "parts_recomputed": sorted(recomputed),
            "rows_deleted": rows_deleted, "versions": versions}


def read_changes(spark: SparkSession, out_dir: str, since_version: int,
                 until_version: int | None = None,
                 backend: str | None = None) -> DataFrame:
    """The rows INSERTED in versions (since, until] — the incremental-
    consumption feed (a downstream tokenizer/trainer processes only new
    data, never re-reads the corpus). Reads the ORIGINAL inserted files
    directly, so later compactions/sorted rewrites don't duplicate or
    hide rows; like time travel, the feed is bounded by vacuum's
    retention window and raises (naming the files) past it."""
    from pyspark.sql.types import StructType

    from . import schema as _schema
    ch = table_changes(out_dir, since_version, until_version, backend)
    ledger = make_ledger(out_dir, backend or detect_backend(out_dir))
    meta = ledger.table_meta()
    declared = StructType.fromJson(meta["schema"]) \
        if meta.get("schema") else None
    data_dir = os.path.join(out_dir, "data")
    paths, dv = [], {}
    for p, fs in sorted(ch["inserts"].items()):
        for fn in sorted(fs):
            path = os.path.join(data_dir, f"part={int(p)}", fn)
            paths.append(path)
            if fs[fn].get("dv"):
                # an in-window deletion vector masks rows out of the
                # very file the feed reads — deliver live rows only
                dv[path] = [int(r) for r in fs[fn]["dv"]]
    missing = [p for p in paths if not os.path.exists(p)]
    if missing:
        raise FileNotFoundError(
            f"change feed since v{since_version} references "
            f"{len(missing)} file(s) already reclaimed by vacuum "
            f"(e.g. {missing[0]}); consume changes within the retention "
            "window")
    if not paths:
        return spark.createDataFrame([], declared or _schema.OUTPUT_SCHEMA)
    reader = spark.read.schema(physical_struct(meta)) \
        if declared is not None else spark.read
    # feed rows surface under the CURRENT logical names (head mapping):
    # physical names are immutable, so files from any era alias cleanly
    return to_logical(
        _apply_dv(spark,
                  reader.option("basePath", data_dir).parquet(*paths),
                  dv),
        meta)


def table_history(out_dir: str, backend: str | None = None) -> list[dict]:
    """DESCRIBE HISTORY for a commitlog table: one row per commit
    version with its timestamp, writer, action-type counts, and touched
    partitions. Markers tables have no history (raises)."""
    ledger = make_ledger(out_dir, backend or detect_backend(out_dir))
    if not getattr(ledger, "log_defined_visibility", False):
        raise ValueError("history requires the commitlog ledger")
    return ledger.history()


def table_protocol(out_dir: str, backend: str | None = None) -> dict:
    """The table's current protocol requirement — {min_reader,
    min_writer, reader_features, writer_features}. A table that never
    ratcheted is at the implicit floor (1, 1, none, none)."""
    ledger = make_ledger(out_dir, backend or detect_backend(out_dir))
    if not getattr(ledger, "log_defined_visibility", False):
        raise ValueError("protocol versioning requires the commitlog "
                         "ledger")
    proto = ledger.table_meta().get("_protocol")
    return dict(proto) if proto else {
        "min_reader": 1, "min_writer": 1,
        "reader_features": [], "writer_features": []}


def upgrade_protocol(out_dir: str, min_reader: int | None = None,
                     min_writer: int | None = None,
                     reader_features=(), writer_features=(),
                     backend: str | None = None) -> int:
    """Ratchet the table's protocol requirement (Delta's ALTER TABLE
    SET TBLPROPERTIES minReaderVersion / table-feature upgrade): one
    log commit; replay merges monotonically, so concurrent upgrades
    compose and nothing ever downgrades — in particular RESTORE
    preserves the strongest requirement (rollback restores data, not
    the protocol). Refuses a requirement THIS build cannot itself
    honor: an upgrade beyond the running code would brick the table
    for its own writer. Returns the commit version."""
    ledger = make_ledger(out_dir, backend or detect_backend(out_dir))
    if not getattr(ledger, "log_defined_visibility", False):
        raise ValueError("protocol versioning requires the commitlog "
                         "ledger")
    req = {"min_reader": int(min_reader or 1),
           "min_writer": int(min_writer or 1),
           "reader_features": sorted(set(reader_features)),
           "writer_features": sorted(set(writer_features))}
    if req["min_reader"] > READER_VERSION \
            or req["min_writer"] > WRITER_VERSION \
            or set(req["reader_features"]) - SUPPORTED_READER_FEATURES \
            or set(req["writer_features"]) - SUPPORTED_WRITER_FEATURES:
        raise ProtocolError(
            f"cannot require {req}: this build supports reader "
            f"{READER_VERSION} / writer {WRITER_VERSION} with features "
            f"{sorted(SUPPORTED_READER_FEATURES)} / "
            f"{sorted(SUPPORTED_WRITER_FEATURES)}")
    return ledger._append([{"type": "protocol", "protocol": req}])


def restore_table(out_dir: str, version: int | None = None,
                  backend: str | None = None, as_of=None) -> dict:
    """RESTORE TABLE ... TO VERSION AS OF (Delta's RESTORE): make the
    live table state equal to its state at an earlier `version` (or at
    the latest commit <= the `as_of` datetime) by publishing ONE new
    commit — nothing is erased. The rollback is itself a version:
    history keeps growing, the rolled-back era stays
    time-travel-readable until `vacuum` reclaims its files (which
    become unreferenced orphans the moment this commit lands), and
    restoring the restore is just another RESTORE.

    Partitions, run-success state, and table metadata (schema, bucket
    spec) all roll back together, so a `run_checkpointed` after
    restoring to a mid-run version resumes exactly the partitions that
    were uncommitted then — rollback-and-recompute as one idiom.

    Refuses to publish a corrupt table: every file the target snapshot
    references must still exist (raises FileNotFoundError naming the
    reclaimed ones otherwise — the same vacuum retention bound as time
    travel). Zero data I/O and zero Spark jobs: like the metadata-only
    count, this is pure log work.

    Reference analogue: resubmitting from the durable
    batch_objects.jsonl ledger recovers an earlier run state
    (base_batch_request_processor.py:300-309); here recovery is a
    first-class, versioned table operation."""
    ledger = make_ledger(out_dir, backend or detect_backend(out_dir))
    if not getattr(ledger, "log_defined_visibility", False):
        raise ValueError("restore requires the commitlog ledger")
    if (version is None) == (as_of is None):
        raise ValueError("pass exactly one of version / as_of")
    if as_of is not None:
        version = ledger.version_at(as_of)
    parts, success, meta, txns = ledger.snapshot(version=version)
    data_dir = os.path.join(out_dir, "data")
    missing = [fn for p, m in parts.items()
               for fn in ((m or {}).get("files") or {})
               if not os.path.exists(
                   os.path.join(data_dir, f"part={int(p)}", fn))]
    if missing:
        raise FileNotFoundError(
            f"cannot restore to v{version}: {len(missing)} of its "
            f"file(s) were already reclaimed by vacuum "
            f"(e.g. {missing[0]}); restores are bounded by the vacuum "
            "retention window, exactly as in Delta")
    new_v = ledger.restore(version, parts, success, meta, txns=txns)
    return {"version": new_v, "restored_to": int(version),
            "parts": len(parts),
            "n_rows": sum(int((m or {}).get("n_rows", 0))
                          for m in parts.values())}


def vacuum(out_dir: str, backend: str | None = None,
           min_age_s: float = 3600.0, dry_run: bool = False) -> int:
    """Reclaim data files no current commit manifest references —
    orphans of invalidated/superseded commits and of crashes between
    file placement and marker commit (Delta's VACUUM). Returns the
    number of files removed.

    Safety rails (each one guards a way to destroy live data):
    * only log-defined-visibility backends — the markers backend swaps
      whole partition dirs, leaves no orphans, and its files are ALL
      live (raises ValueError); backend=None auto-detects;
    * a missing/empty transaction log means NOTHING was committed under
      this backend — refuse to classify the world as orphans (no-op);
    * min_age_s retention (Delta's deletedFileRetentionDuration): a
      file younger than the window is skipped, because a concurrent
      in-flight shard may have placed it ahead of its commit landing —
      deleting it would break that shard's about-to-publish manifest.
      Pass 0 only when no writer can be concurrent (tests, quiesced
      maintenance windows).

    Also reclaims `_compact-*` staging directories older than the
    window — the debris of a compact_partition that crashed before
    moving its rewrites into the partition dir.

    dry_run=True (Delta's VACUUM ... DRY RUN): count exactly what a
    real pass would reclaim — same age filter, same liveness rule —
    but delete nothing. Audit the blast radius (e.g. after a RESTORE,
    how much of the rolled-back era is about to become physical-only
    history) before committing to it."""
    backend = backend or detect_backend(out_dir)
    ledger = make_ledger(out_dir, backend)
    if not getattr(ledger, "log_defined_visibility", False):
        raise ValueError(
            f"vacuum is not applicable to the '{backend}' ledger: every "
            "file in a markers-managed data dir is live")
    committed = ledger.committed()
    if not committed and ledger.run_success() is None:
        return 0  # empty/absent log: nothing was ever committed here
    referenced = {(int(part), fn)
                  for part, marker in committed.items()
                  for fn in ((marker or {}).get("files") or {})}
    data_dir = os.path.join(out_dir, "data")
    removed = 0
    if not os.path.isdir(data_dir):
        return 0
    now = time.time()
    for d in os.listdir(data_dir):
        if not d.startswith("part="):
            continue
        try:
            part = int(d.split("=", 1)[1])
        except ValueError:
            continue
        pd_ = os.path.join(data_dir, d)
        for fn in os.listdir(pd_):
            fp = os.path.join(pd_, fn)
            if (fn.endswith(".parquet")
                    and (part, fn) not in referenced
                    and now - os.path.getmtime(fp) >= min_age_s):
                if not dry_run:
                    os.remove(fp)
                removed += 1
    # crashed-compaction staging debris (out_dir/_compact-<tag>/)
    import shutil
    for d in os.listdir(out_dir):
        dp = os.path.join(out_dir, d)
        if (d.startswith("_compact-") and os.path.isdir(dp)
                and now - os.path.getmtime(dp) >= min_age_s):
            removed += sum(len(fs) for _, _, fs in os.walk(dp))
            if not dry_run:
                shutil.rmtree(dp, ignore_errors=True)
    return removed


def _zorder_key(src: DataFrame, cols: list[str], bits: int = 8):
    """Morton (Z-order) key over `cols`: each column linearly bucketed
    into 2**bits cells between its min and max, buckets bit-interleaved
    so proximity in the key means proximity in EVERY dimension at once.
    Numeric/timestamp columns only (strings have no linear embedding).

    This is a LAYOUT computation, not a result: float rounding in the
    bucket edges or skew clumping the cells can only blunt how sharply
    files separate, never change any row. (Delta's ZORDER buckets by
    sampled range-partition rank for skew robustness; min/max linear
    cells keep this a single tiny aggregate + one narrow expression,
    which is the right trade for per-partition compaction jobs.)"""
    from pyspark.sql.types import (DateType, NumericType, TimestampType)
    exprs = []
    for c in cols:
        dt = src.schema[c].dataType
        if not isinstance(dt, (NumericType, TimestampType, DateType)):
            raise ValueError(
                f"zorder column '{c}' has type {dt.simpleString()}: only "
                "numeric/timestamp/date columns have the linear order "
                "z-ordering interleaves")
        exprs.append(F.col(c).cast("double"))
    row = src.agg(*[f for e in exprs
                    for f in (F.min(e), F.max(e))]).first()
    nb = 1 << bits
    buckets = []
    for i, e in enumerate(exprs):
        mn, mx = row[2 * i], row[2 * i + 1]
        mn = float(mn) if mn is not None else 0.0
        denom = (float(mx) - mn) if (mx is not None
                                     and float(mx) > mn) else 1.0
        b = F.floor((e - F.lit(mn)) / F.lit(denom) * nb).cast("long")
        buckets.append(F.coalesce(
            F.least(F.lit(nb - 1), F.greatest(F.lit(0), b)),
            F.lit(0)))
    z = F.lit(0).cast("long")
    for bit in range(bits):
        for ci, b in enumerate(buckets):
            z = z.bitwiseOR(F.shiftleft(
                F.shiftright(b, bit).bitwiseAND(F.lit(1)),
                bit * len(buckets) + ci))
    return z


def compact_partition(spark: SparkSession, out_dir: str, part: int,
                      target_files: int = 1,
                      backend: str | None = None,
                      sort_by: list[str] | None = None,
                      zorder: bool = False) -> dict:
    """Small-file compaction (Delta/Iceberg OPTIMIZE): rewrite a
    committed partition's many files into `target_files` larger ones
    without changing a row. Incremental appends
    (incremental.append_new_conversations, streaming epochs) accrete a
    file per run per partition; at 10^5 runs the scan cost is dominated
    by per-file open overhead — compaction is the standard maintenance
    pass.

    Protocol (commitlog backend only): read EXACTLY the files the
    current manifest references, rewrite them into shard-unique
    compacted files placed alongside (one put per file, no in-place
    mutation), verify the rewritten row count equals the manifest's,
    then publish ONE `compact` log version that swaps the file sets.
    Readers see the old files or the new files, never a mix; a crash
    at any point leaves only unreferenced orphans for `vacuum`; a
    concurrent recompute makes the swap a stale no-op at replay (see
    the replay handler). The markers backend raises — its directory
    content IS its committed state, so an in-place file swap cannot be
    made atomic there.

    sort_by: cluster the rewrite by these columns (OPTIMIZE ... ZORDER's
    one-dimensional core): rows are range-partitioned across the
    `target_files` outputs and sorted within each, so every output file
    owns a DISJOINT key range and its manifest min/max stats become
    surgical — a point/range probe via read_committed(where=…) then
    skips all but one file of the partition, where a partition
    accreted from several writes (one file per write, or several when
    a skewed write was split) has every file spanning the full key
    range. Row-identical to the unsorted compaction (same verify +
    same stale-swap rule); the clustering exists purely to sharpen
    data skipping.

    zorder: with 2+ sort_by columns, cluster by their MORTON
    (bit-interleaved) key instead of the lexicographic concatenation —
    OPTIMIZE ... ZORDER BY proper. A lexicographic sort makes only the
    FIRST column's file ranges disjoint (every file spans the full
    range of the rest); the z-key walks a space-filling curve, so each
    output file owns a bounded TILE of the multi-dimensional space and
    manifest-stats skipping stays surgical for probes on ANY of the
    z-ordered columns. Layout-only, row-identical (see _zorder_key).

    Returns {part, compacted, files_before, files_after, n_rows}."""
    import shutil
    import uuid

    import pyarrow.parquet as pq

    backend = backend or detect_backend(out_dir)
    ledger = make_ledger(out_dir, backend)
    if not getattr(ledger, "log_defined_visibility", False):
        raise ValueError(
            f"compaction requires a log-defined-visibility ledger, not "
            f"'{backend}': the markers backend's dir content IS its "
            "committed state, so a file swap there cannot be atomic")
    committed_, _s_, meta_, _t_ = ledger.snapshot()
    marker = committed_.get(int(part))
    if not marker or not marker.get("files"):
        raise ValueError(f"partition {part} has no committed files")
    # the rewrite is physical-in/physical-out (footer-inferred read,
    # as-is write), so column mapping only touches the caller-facing
    # names: sort keys arrive logical, files hold physical
    if sort_by:
        sort_by = [physical_name(meta_, c) for c in sort_by]
    old_files = dict(marker["files"])
    old_dv = {k: list(v) for k, v in (marker.get("dv") or {}).items()}
    live = sum(int(v.get("n_rows", 0)) for v in old_files.values()) \
        - sum(len(v) for v in old_dv.values())
    # an already-small partition is a no-op UNLESS the caller asked for
    # clustering (re-sorting equal-count files still sharpens stats) or
    # deletion vectors are pending — compaction is also PURGE: the
    # rewrite materializes the masks and replay drops them with the
    # swapped files
    if len(old_files) <= target_files and not sort_by and not old_dv:
        return {"part": int(part), "compacted": False,
                "files_before": len(old_files),
                "files_after": len(old_files),
                "n_rows": live}
    pdir = os.path.join(out_dir, "data", f"part={int(part)}")
    paths = [os.path.join(pdir, fn) for fn in sorted(old_files)]
    tag = uuid.uuid4().hex[:12]
    staging = os.path.join(out_dir, f"_compact-{tag}")
    src = _apply_dv(spark, spark.read.parquet(*paths),
                    {os.path.join(pdir, fn): rows
                     for fn, rows in old_dv.items()})
    if zorder:
        if not sort_by or len(sort_by) < 2:
            raise ValueError(
                "zorder needs 2+ sort_by columns (with one, a plain "
                "range sort already gives disjoint file ranges)")
        src = (src.withColumn("_zkey", _zorder_key(src, list(sort_by)))
               .repartitionByRange(int(target_files), F.col("_zkey"))
               .sortWithinPartitions("_zkey")
               .drop("_zkey"))
    elif sort_by:
        src = (src.repartitionByRange(int(target_files),
                                      *[F.col(c) for c in sort_by])
               .sortWithinPartitions(*sort_by))
    else:
        src = src.coalesce(int(target_files))
    src.write.parquet(staging)
    man: dict = {}
    stats: dict = {}
    n_rows = 0
    i = 0
    for fn in sorted(os.listdir(staging)):
        if not fn.endswith(".parquet"):
            continue
        newname = f"compact-{tag}-{i:05d}.parquet"
        fsrc = os.path.join(staging, fn)
        rows = pq.ParquetFile(fsrc).metadata.num_rows
        man[newname] = {"n_rows": int(rows),
                        "n_bytes": os.path.getsize(fsrc)}
        stats[newname] = file_column_stats(fsrc, stats_columns(meta_))
        n_rows += int(rows)
        os.replace(fsrc, os.path.join(pdir, newname))
        i += 1
    shutil.rmtree(staging, ignore_errors=True)
    if n_rows != live:
        # abandon BEFORE the commit: the rewrites are unreferenced
        # orphans (vacuum reclaims them); the table is untouched
        raise RuntimeError(
            f"compaction of part {part} rewrote {n_rows} rows but the "
            f"manifest records {live} live — aborted, table unchanged")
    ledger.compact_part(int(part), sorted(old_files), man, stats=stats)
    return {"part": int(part), "compacted": True,
            "files_before": len(old_files), "files_after": len(man),
            "n_rows": n_rows}


def optimize_table(spark: SparkSession, out_dir: str,
                   target_files: int = 1,
                   small_file_bytes: int | None = None,
                   sort_by=None, zorder: bool = False,
                   backend: str | None = None) -> dict:
    """Whole-table OPTIMIZE (Delta's `OPTIMIZE` without a WHERE): walk
    every committed partition and compact the ones whose live layout
    warrants it, each in its OWN atomic `compact` commit — the table
    stays readable throughout, and a concurrent append conflicts
    per-partition under the stale-swap rule, never table-wide.

    Selection: a partition qualifies when it holds more than
    `target_files` live files AND (when `small_file_bytes` is set) at
    least one of them is smaller than that threshold — the
    accreted-small-files signature of continuous ingestion; with
    `sort_by`/`zorder`, every partition is rewritten unconditionally
    (re-clustering equal-size files still sharpens manifest-stats
    skipping). At 100 TB this is the nightly maintenance job: the
    manifest carries per-file n_bytes, so selection is pure metadata —
    no data file is opened for partitions that don't qualify.

    Returns {parts_compacted, parts_skipped, files_before, files_after,
    n_rows} (files counted over the compacted partitions only)."""
    backend = backend or detect_backend(out_dir)
    ledger = make_ledger(out_dir, backend)
    if not getattr(ledger, "log_defined_visibility", False):
        raise ValueError(
            f"compaction requires a log-defined-visibility ledger, not "
            f"'{backend}': the markers backend's dir content IS its "
            "committed state, so a file swap there cannot be atomic")
    committed = ledger.committed()
    out = {"parts_compacted": [], "parts_skipped": [],
           "files_before": 0, "files_after": 0, "n_rows": 0}
    for part, marker in sorted(committed.items()):
        files = (marker or {}).get("files") or {}
        needs = len(files) > int(target_files) and (
            small_file_bytes is None
            or any(int((m or {}).get("n_bytes", 0)) < int(small_file_bytes)
                   for m in files.values()))
        if not (needs or sort_by):
            out["parts_skipped"].append(int(part))
            continue
        r = compact_partition(spark, out_dir, int(part),
                              target_files=int(target_files),
                              sort_by=sort_by, zorder=zorder,
                              backend=backend)
        if r["compacted"]:
            out["parts_compacted"].append(int(part))
            out["files_before"] += r["files_before"]
            out["files_after"] += r["files_after"]
            out["n_rows"] += r["n_rows"]
        else:
            out["parts_skipped"].append(int(part))
    return out


class ConcurrentRebucketError(RuntimeError):
    """A whole-table rebucket's swap was invalidated by a concurrent
    commit (append/compact/delete/dv landed between the snapshot read
    and the rebucket commit). Replay ignored the stale swap wholesale;
    raising is mandatory because the caller would otherwise believe the
    new partition layout is live while every read still plans against
    the old spec. The rewrite's outputs are unreferenced orphans vacuum
    reclaims; retry against the new snapshot."""


def rebucket_table(spark: SparkSession, out_dir: str, bucket: dict,
                   backend: str | None = None) -> dict:
    """Change the table's bucket spec (Iceberg's ALTER TABLE ... REPLACE
    PARTITION SPEC), made EAGER by rewriting every live row into the
    new layout in one atomic commit. Iceberg can evolve a spec lazily
    because its planner tracks a spec PER manifest; this table's
    planner derives partition pruning from the single spec in
    table_meta (snapshot_files, delete_conversations), so two specs
    coexisting would silently mis-prune — the eager rewrite keeps the
    one-spec invariant while still being transactional:

    * read EXACTLY the committed manifests' files MINUS their deletion
      vectors (the rewrite MATERIALIZES pending masks, like compaction's
      PURGE), recompute `part` with the new spec's named transform
      (Arrow-batched pandas UDF over the same BUCKET_FNS registry the
      planner prunes with — writer and reader cannot disagree), and
      stage per-partition files alongside the live ones;
    * verify the rewritten row count equals the live count, then
      publish ONE `rebucket` log version embedding the expected
      pre-state, the full new manifest, and the new spec (see
      CommitLogLedger.rebucket). Readers see the old layout or the new
      one, never a mix; a crash leaves only orphans for vacuum;
    * verify the swap APPLIED (replay honors it only while the
      expectation holds) and raise ConcurrentRebucketError on a stale
      swap rather than reporting a layout that is not live.

    Time travel and RESTORE cross the spec change transparently: a
    pre-rebucket version replays with the old parts AND the old spec
    facet, so as-of reads prune correctly in whichever era they target.

    The scale shape: one full-table shuffle on the new bucket key — the
    unavoidable cost of a physical reorganization (Spark's
    repartition + partitionBy write, no driver-side rows beyond the
    manifest) — then O(files) manifest bookkeeping.

    Protocol: the first rebucket ratchets reader AND writer features —
    a build that would skip the action would mis-state the table; a
    writer unaware of spec changes could append under the wrong layout.

    Returns {rebucketed, version, n_rows, parts_before, parts_after,
    files_written, bucket}."""
    import shutil
    import uuid

    import pyarrow.parquet as pq
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StructType

    if bucket.get("fn") not in BUCKET_FNS or not bucket.get("col") \
            or not bucket.get("n_parts"):
        raise ValueError(
            f"bucket spec needs col/n_parts/fn with fn in "
            f"{sorted(BUCKET_FNS)}; got {bucket}")
    backend = backend or detect_backend(out_dir)
    ledger = make_ledger(out_dir, backend)
    if not getattr(ledger, "log_defined_visibility", False):
        raise ValueError(
            f"rebucket requires a log-defined-visibility ledger, not "
            f"'{backend}': an atomic whole-table file swap cannot be "
            "expressed when the directory content IS the committed "
            "state")
    committed, _success, meta, _txns = ledger.snapshot()
    if (meta.get("bucket") or None) == bucket:
        return {"rebucketed": False, "version": ledger.latest_version(),
                "n_rows": sum(int((m or {}).get("n_rows", 0))
                              for m in committed.values()),
                "parts_before": len(committed),
                "parts_after": len(committed), "files_written": 0,
                "bucket": dict(bucket)}

    # the expectation the swap is conditioned on: file sets AND
    # deletion vectors, exactly as replay will re-derive them
    expect = {int(p): {"files": sorted((m or {}).get("files") or {}),
                       "dv": {f: sorted(int(x) for x in v)
                              for f, v in ((m or {}).get("dv")
                                           or {}).items() if v}}
              for p, m in committed.items()}

    # ratchet BEFORE the swap lands: a reader that would silently skip
    # the action must be refused from the first rebucketed version on
    proto = meta.get("_protocol") or {}
    if "rebucket" not in set(proto.get("reader_features") or []) \
            or "rebucket" not in set(proto.get("writer_features") or []):
        upgrade_protocol(out_dir, reader_features=["rebucket"],
                         writer_features=["rebucket"], backend=backend)

    tag = uuid.uuid4().hex[:12]
    live_files = [(int(p), f, (m or {}).get("dv", {}).get(f))
                  for p, m in committed.items()
                  for f in sorted((m or {}).get("files") or {})]
    if not live_files:
        # empty table: the spec change is metadata-only but still one
        # atomic, replayable, time-travelable version
        ver = ledger.rebucket(expect, {}, bucket)
        if ledger.table_meta(version=ver).get("bucket") != bucket:
            raise ConcurrentRebucketError(
                f"rebucket of empty {out_dir} was invalidated by a "
                f"concurrent commit at v{ver}; retry")
        return {"rebucketed": True, "version": ver, "n_rows": 0,
                "parts_before": len(committed), "parts_after": 0,
                "files_written": 0, "bucket": dict(bucket)}

    live = sum(int(((committed.get(p) or {}).get("files") or {})
                   .get(f, {}).get("n_rows", 0))
               for p, f, _dv in live_files) \
        - sum(len(dv or []) for _p, _f, dv in live_files)
    declared = None
    if meta.get("schema"):
        declared = physical_struct(meta)  # files hold physical names
        declared = StructType([f for f in declared.fields
                               if f.name != "part"])  # and no part col
    pkey = physical_name(meta, bucket["col"])
    reader = spark.read.schema(declared) if declared is not None \
        else spark.read
    paths = [os.path.join(out_dir, "data", f"part={p}", f)
             for p, f, _dv in live_files]
    dv_map = {os.path.join(out_dir, "data", f"part={p}", f): dv
              for p, f, dv in live_files if dv}
    src = _apply_dv(spark, reader.parquet(*paths), dv_map)

    fn_name, n_parts = bucket["fn"], int(bucket["n_parts"])

    def _bucket_series(sser):
        f = BUCKET_FNS[fn_name]
        return sser.map(lambda v: f(v, n_parts)).astype("int32")

    _bucket_of = pandas_udf(_bucket_series, "int")
    staging = os.path.join(out_dir, f"_compact-{tag}")  # vacuum-known
    (src.withColumn("part", _bucket_of(F.col(pkey).cast("string")))
     .repartition(n_parts, F.col("part"))
     .write.partitionBy("part").parquet(staging))

    new_markers: dict[int, dict] = {}
    # recomputing a rebucketed partition from any single input part
    # would resurrect the old layout — carry every contributing run id
    # so revalidate_committed's multi-run guard refuses the recompute
    runs = sorted({rid for m in committed.values()
                   for rid in ((m or {}).get("runs")
                               or ([m["run_id"]] if (m or {}).get("run_id")
                                   else []))} | {f"rebucket-{tag}"})
    n_rows = 0
    files_written = 0
    for d in sorted(os.listdir(staging)):
        if not d.startswith("part="):
            continue
        newp = int(d.split("=", 1)[1])
        pdir = os.path.join(out_dir, "data", f"part={newp}")
        os.makedirs(pdir, exist_ok=True)
        man: dict = {}
        stats: dict = {}
        prows = 0
        for i, f in enumerate(sorted(os.listdir(
                os.path.join(staging, d)))):
            if not f.endswith(".parquet"):
                continue
            fsrc = os.path.join(staging, d, f)
            rows = pq.ParquetFile(fsrc).metadata.num_rows
            if rows == 0:
                continue
            newname = f"rebucket-{tag}-{files_written:05d}.parquet"
            man[newname] = {"n_rows": int(rows),
                            "n_bytes": os.path.getsize(fsrc)}
            stats[newname] = file_column_stats(fsrc, stats_columns(meta))
            prows += int(rows)
            os.replace(fsrc, os.path.join(pdir, newname))
            files_written += 1
        if man:
            new_markers[newp] = {
                "run_id": f"rebucket-{tag}", "part": newp,
                "status": "COMMITTED", "n_rows": prows,
                "files": man, "stats": stats, "runs": runs}
            n_rows += prows
    shutil.rmtree(staging, ignore_errors=True)
    if n_rows != live:
        # abandon BEFORE the commit: the rewrites are unreferenced
        # orphans (vacuum reclaims them); the table is untouched
        raise RuntimeError(
            f"rebucket rewrote {n_rows} rows but the manifests record "
            f"{live} live — aborted, table unchanged")
    ver = ledger.rebucket(expect, new_markers, bucket)
    # verify the swap APPLIED: replay honored it only if the live state
    # at ver-1 still matched the expectation — re-check the committed
    # outcome rather than trusting our (possibly stale) snapshot
    after = ledger.committed(version=ver)
    applied = (ledger.table_meta(version=ver).get("bucket") == bucket
               and {int(p): sorted((m or {}).get("files") or {})
                    for p, m in after.items()}
               == {p: sorted(m["files"]) for p, m in new_markers.items()})
    if not applied:
        raise ConcurrentRebucketError(
            f"rebucket of {out_dir} conflicted with a concurrent "
            f"commit between snapshot and v{ver}; the swap was ignored "
            "by replay (its outputs are orphans for vacuum) — retry "
            "against the new snapshot")
    return {"rebucketed": True, "version": ver, "n_rows": n_rows,
            "parts_before": len(committed),
            "parts_after": len(new_markers),
            "files_written": files_written, "bucket": dict(bucket)}


class ConcurrentDeleteError(RuntimeError):
    """A row-level DELETE's file swap was invalidated by a concurrent
    rewrite (compaction/recompute replaced a candidate file between the
    snapshot read and the delete commit). Replay ignores the stale swap
    — raising is mandatory because, unlike compaction, DELETE is not
    row-preserving: silently no-opping would report a
    right-to-be-forgotten request as done while the rows stay live
    (Delta raises the same conflict for DELETE vs OPTIMIZE)."""


def delete_conversations(spark: SparkSession, out_dir: str,
                         conv_ids, backend: str | None = None,
                         key: str = "conv_id") -> dict:
    """Row-level DELETE by key (Delta's DELETE shape; the
    right-to-be-forgotten operation a training-data platform must run
    at 100 TB without rewriting the table): every file that cannot
    contain a target — by the log's bucket-transform spec AND the
    manifest min/max stats — is untouched; only candidate files are
    read, filtered, and swapped for their rewrites in one `delete` log
    version per partition (same stale-swap conflict rule as
    compaction). The displaced originals stay on disk for time travel
    until `vacuum` reclaims them — which is also the point at which the
    deletion is PHYSICAL, exactly as in Delta.

    Candidate reads plan with the log's declared schema when present,
    so rewrites of pre-evolution files keep the widened columns (as
    nulls) instead of silently narrowing.

    The _metrics table is RUN history, not table state — deletions
    change table_row_count / read_committed but never rewrite the
    counters a past run recorded (Delta's DELETE doesn't edit history
    either).

    Returns {rows_deleted, files_rewritten, files_untouched,
    parts_touched}."""
    import shutil
    import uuid

    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    backend = backend or detect_backend(out_dir)
    ledger = make_ledger(out_dir, backend)
    if not getattr(ledger, "log_defined_visibility", False):
        raise ValueError(
            f"delete requires a log-defined-visibility ledger, not "
            f"'{backend}': a filtered file swap cannot be atomic when "
            "the directory content IS the committed state")
    conv_ids = sorted(set(conv_ids))
    committed, _success, meta, _txns = ledger.snapshot()
    bucket = meta.get("bucket") or {}
    declared = None
    if meta.get("schema"):
        declared = physical_struct(meta)  # files hold physical names
        declared = StructType([f for f in declared.fields
                               if f.name != "part"])  # files hold no part
    # the rewrite runs physical-in/physical-out; only the caller's key
    # column arrives logical
    pkey = physical_name(meta, key)

    keep_parts = None
    if bucket.get("col") == key and bucket.get("fn") in BUCKET_FNS \
            and bucket.get("n_parts"):
        fn = BUCKET_FNS[bucket["fn"]]
        keep_parts = {fn(c, bucket["n_parts"]) for c in conv_ids}

    summary = {"rows_deleted": 0, "files_rewritten": 0,
               "files_untouched": 0, "parts_touched": []}
    # NULL-key rows must SURVIVE: `~isin` evaluates to NULL for a
    # NULL key and the filter would silently drop (= delete)
    # untargeted rows on any nullable key column
    targets = [str(c) for c in conv_ids]
    keep_fn = lambda df: df.filter(  # noqa: E731
        (~F.col(pkey).isin(targets)) | F.col(pkey).isNull())
    for part, marker in sorted(committed.items()):
        files = (marker or {}).get("files") or {}
        if keep_parts is not None and int(part) not in keep_parts:
            summary["files_untouched"] += len(files)
            continue
        stats = (marker or {}).get("stats") or {}
        cand = [fn_ for fn_ in sorted(files)
                if any(_file_may_match(stats.get(fn_), pkey, "=", c)
                       for c in conv_ids)]
        summary["files_untouched"] += len(files) - len(cand)
        if not cand:
            continue
        _swap_filtered_rewrite(spark, out_dir, ledger, declared,
                               int(part), cand, files, keep_fn, summary,
                               dv=(marker or {}).get("dv"),
                               stats_cols=stats_columns(meta))
    return summary


def delete_rows_dv(spark: SparkSession, out_dir: str, conv_ids,
                   key: str = "conv_id",
                   backend: str | None = None) -> dict:
    """Row-level DELETE via deletion vectors (Delta's DV mode): mark
    the matching row POSITIONS of each candidate file deleted in the
    log, rewriting nothing — a k-row targeted delete costs O(k) log
    bytes and zero data I/O beyond locating the rows, vs the rewrite
    path's O(touched file bytes). The right tool for point deletes on
    a 100 TB table; bulk deletes still belong to
    delete_conversations/delete_matching (a mask covering most of a
    file is worse than its rewrite). Compaction MATERIALIZES masks
    (its rewrite reads minus-dv and replay drops the dv with the
    swapped file), and vacuum of the displaced originals is still the
    point of physical deletion.

    Protocol: the first dv on a table ratchets the reader requirement
    with the `deletion-vectors` feature — a build that would not apply
    masks must refuse the whole table rather than resurrect deleted
    rows (exactly why Delta gates DVs behind a table feature).

    Candidate files are pruned by the bucket transform + manifest
    stats like the rewrite path; positions are found in ONE Spark job
    over the candidates via `_metadata.file_path`/`row_index`.
    Atomicity: ALL partitions' marks land in ONE log version (the
    rewrite path commits per partition). Same conflict rule: if a
    concurrent rewrite displaced a candidate between snapshot and
    commit, replay ignored that mark — verified after commit, raising
    ConcurrentDeleteError rather than reporting rows deleted that are
    still live.

    Returns {rows_deleted, files_marked, files_untouched,
    parts_touched}."""
    backend = backend or detect_backend(out_dir)
    ledger = make_ledger(out_dir, backend)
    if not getattr(ledger, "log_defined_visibility", False):
        raise ValueError(
            "deletion vectors require the commitlog ledger: the mask "
            "lives in the log, and enforcement needs the protocol "
            "action")
    targets = sorted({str(c) for c in conv_ids})
    committed, _success, meta, _txns = ledger.snapshot()
    bucket = meta.get("bucket") or {}
    pkey = physical_name(meta, key)  # files + stats hold physical names
    keep_parts = None
    if bucket.get("col") == key and bucket.get("fn") in BUCKET_FNS \
            and bucket.get("n_parts"):
        fn = BUCKET_FNS[bucket["fn"]]
        keep_parts = {fn(c, bucket["n_parts"]) for c in targets}

    summary = {"rows_deleted": 0, "files_marked": 0,
               "files_untouched": 0, "parts_touched": []}
    data_dir = os.path.join(out_dir, "data")
    cand: list[tuple[int, str, str, set]] = []  # (part, fn, path, prior)
    for part, marker in sorted(committed.items()):
        files = (marker or {}).get("files") or {}
        if keep_parts is not None and int(part) not in keep_parts:
            summary["files_untouched"] += len(files)
            continue
        stats = (marker or {}).get("stats") or {}
        dv = (marker or {}).get("dv") or {}
        hit = [fn_ for fn_ in sorted(files)
               if any(_file_may_match(stats.get(fn_), pkey, "=", c)
                      for c in targets)]
        summary["files_untouched"] += len(files) - len(hit)
        for fn_ in hit:
            cand.append((int(part), fn_,
                         os.path.join(data_dir, f"part={int(part)}", fn_),
                         set(int(r) for r in (dv.get(fn_) or []))))
    if not cand:
        return summary

    # ratchet BEFORE the first mask lands: a reader that would not
    # apply dvs must refuse the table wholesale from this point on
    proto = meta.get("_protocol") or {}
    if "deletion-vectors" not in set(proto.get("reader_features") or []):
        upgrade_protocol(out_dir, reader_features=["deletion-vectors"],
                         backend=backend)

    hits = (spark.read.option("basePath", data_dir)
            .parquet(*[c[2] for c in cand])
            .where(F.col(pkey).isin(targets))
            .select(F.col("_metadata.file_path").alias("fp"),
                    F.col("_metadata.row_index").alias("ri"))
            .collect())  # bounded by the targets' row count
    by_suffix: dict[str, set] = {}
    for r in hits:
        by_suffix.setdefault(_dv_suffix(r["fp"]), set()).add(int(r["ri"]))
    marks = []
    for part, fn_, path, prior in cand:
        pos = by_suffix.get(_dv_suffix(path), set()) - prior
        if pos:
            marks.append((part, fn_, sorted(pos)))
    if not marks:
        return summary
    ver = ledger.add_dv(marks)
    prev = ledger.committed(version=ver - 1)
    stale = [fn_ for part, fn_, _pos in marks
             if fn_ not in ((prev.get(part) or {}).get("files") or {})]
    if stale:
        raise ConcurrentDeleteError(
            f"dv delete conflicted with a concurrent rewrite: files "
            f"{stale} were replaced between snapshot and commit "
            f"(v{ver}); their marks were ignored by replay — retry "
            "against the new snapshot")
    summary["rows_deleted"] = sum(len(pos) for _, _, pos in marks)
    summary["files_marked"] = len(marks)
    summary["parts_touched"] = sorted({p for p, _, _ in marks})
    return summary


def _swap_filtered_rewrite(spark, out_dir, ledger, declared, part,
                           cand, files, keep_fn, summary,
                           dv: dict | None = None,
                           stats_cols: tuple = STATS_COLUMNS) -> None:
    """The DELETE rewrite core shared by the id-list and DataFrame key
    paths: read the candidate files, keep `keep_fn(df)`, stage the
    survivors, swap atomically via one `delete` log version, and verify
    the swap APPLIED (raising ConcurrentDeleteError on a stale swap —
    see delete_conversations). A rewrite that removes nothing (stats
    false positive) leaves the originals untouched and commits no
    version. Candidates carrying deletion vectors are read MINUS their
    masks (the rewrite materializes prior dv deletes; resurrecting
    them would undo committed right-to-be-forgotten requests) and the
    row accounting compares live counts. Mutates `summary` in place."""
    import shutil
    import uuid

    import pyarrow.parquet as pq

    pdir = os.path.join(out_dir, "data", f"part={int(part)}")
    paths = [os.path.join(pdir, f) for f in cand]
    reader = spark.read.schema(declared) if declared is not None \
        else spark.read
    dv = {f: rows for f, rows in (dv or {}).items() if f in cand}
    before = sum(int(files[f].get("n_rows", 0)) for f in cand) \
        - sum(len(v) for v in dv.values())
    kept = keep_fn(_apply_dv(
        spark, reader.parquet(*paths),
        {os.path.join(pdir, f): rows for f, rows in dv.items()}))
    tag = uuid.uuid4().hex[:12]
    staging = os.path.join(out_dir, f"_compact-{tag}")  # vacuum-known
    kept.coalesce(max(1, len(cand))).write.parquet(staging)
    man: dict = {}
    new_stats: dict = {}
    after = 0
    i = 0
    for f in sorted(os.listdir(staging)):
        if not f.endswith(".parquet"):
            continue
        src = os.path.join(staging, f)
        rows = pq.ParquetFile(src).metadata.num_rows
        if rows == 0:
            continue  # fully-deleted file: remove, add nothing
        newname = f"delete-{tag}-{i:05d}.parquet"
        man[newname] = {"n_rows": int(rows),
                        "n_bytes": os.path.getsize(src)}
        new_stats[newname] = file_column_stats(src, stats_cols)
        after += int(rows)
        os.replace(src, os.path.join(pdir, newname))
        i += 1
    shutil.rmtree(staging, ignore_errors=True)
    if after > before:
        raise RuntimeError(
            f"delete rewrite of part {part} produced {after} rows "
            f"from {before} — aborted before commit, table unchanged")
    if after == before:
        # stats false positive: no target actually present — leave
        # the original files alone; the rewrites are orphans
        for f in man:
            os.remove(os.path.join(pdir, f))
        return
    ver = ledger.delete_rewrite(int(part), cand, man, stats=new_stats)
    # verify the swap APPLIED: replay honors it only when every
    # removed file was still referenced at version-1 — re-check that
    # exact condition rather than trusting our (possibly stale)
    # snapshot. A concurrent compact/recompute that replaced a
    # candidate in between makes the swap a silent no-op in replay;
    # the caller must not be told rows were deleted when they
    # weren't.
    prev_files = set(((ledger.committed(version=ver - 1)
                       .get(int(part)) or {}).get("files") or {}))
    if not set(cand) <= prev_files:
        raise ConcurrentDeleteError(
            f"delete of part {part} conflicted with a concurrent "
            f"rewrite: files {sorted(set(cand) - prev_files)} were "
            f"replaced between snapshot and commit (v{ver}); the "
            "swap was ignored by replay — retry the delete against "
            "the new snapshot")
    summary["rows_deleted"] += before - after
    summary["files_rewritten"] += len(cand)
    summary["parts_touched"].append(int(part))


def delete_matching(spark: SparkSession, out_dir: str, keys: DataFrame,
                    key: str = "conv_id",
                    backend: str | None = None) -> dict:
    """Distributed row-level DELETE: the targets arrive as a DATAFRAME
    of keys, never as a driver-side list — the shape an upsert that
    revises 10^7 conversations needs (delete_conversations' Python list
    is for administrative requests, this is for data-plane volumes).

    The key set is staged once to scratch parquet (cutting the lineage
    so the possibly-expensive producing plan — e.g. a fingerprint
    comparison join — runs exactly once, not once per partition), then:
    * partition pruning: each key's bucket is computed DISTRIBUTEDLY
      with the table's recorded bucket transform (an Arrow-batched
      pandas UDF over the same BUCKET_FNS registry the planner uses);
      only per-part (min, max) key ranges ever reach the driver —
      O(n_parts) state regardless of key volume;
    * file pruning: a file is a candidate only if its manifest [min,
      max] overlaps its partition's key range;
    * the rewrite keeps survivors via LEFT ANTI join against the staged
      keys (NULL keys never match an anti-join probe, so NULL-key rows
      survive — same contract as delete_conversations), sharing the
      same atomic swap + stale-swap verification core.

    Returns {rows_deleted, files_rewritten, files_untouched,
    parts_touched, n_keys}."""
    import shutil
    import uuid

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StructType

    backend = backend or detect_backend(out_dir)
    ledger = make_ledger(out_dir, backend)
    if not getattr(ledger, "log_defined_visibility", False):
        raise ValueError(
            f"delete requires a log-defined-visibility ledger, not "
            f"'{backend}': a filtered file swap cannot be atomic when "
            "the directory content IS the committed state")
    committed, _success, meta, _txns = ledger.snapshot()
    bucket = meta.get("bucket") or {}
    declared = None
    if meta.get("schema"):
        declared = physical_struct(meta)  # files hold physical names
        declared = StructType([f for f in declared.fields
                               if f.name != "part"])  # files hold no part
    pkey = physical_name(meta, key)

    summary = {"rows_deleted": 0, "files_rewritten": 0,
               "files_untouched": 0, "parts_touched": [], "n_keys": 0}
    scratch = os.path.join(out_dir, f"_compact-{uuid.uuid4().hex[:12]}-keys")
    try:
        (keys.select(F.col(key).cast("string").alias(key))
         .filter(F.col(key).isNotNull()).distinct()
         .write.parquet(scratch))
        kdf = spark.read.parquet(scratch)
        n_keys = kdf.count()
        summary["n_keys"] = int(n_keys)
        if n_keys == 0:
            summary["files_untouched"] = sum(
                len((m or {}).get("files") or {})
                for m in committed.values())
            return summary

        bucketed = (bucket.get("col") == key
                    and bucket.get("fn") in BUCKET_FNS
                    and bucket.get("n_parts"))
        if bucketed:
            fn_name, n_parts = bucket["fn"], int(bucket["n_parts"])

            def _bucket_series(s):
                f = BUCKET_FNS[fn_name]
                return s.map(lambda v: f(v, n_parts)).astype("int32")

            _bucket_of = pandas_udf(_bucket_series, "int")
            ranges = {int(r["part"]): (r["kmin"], r["kmax"]) for r in
                      (kdf.groupBy(_bucket_of(F.col(key)).alias("part"))
                       .agg(F.min(key).alias("kmin"),
                            F.max(key).alias("kmax")).collect())}
        else:
            r = kdf.agg(F.min(key).alias("kmin"),
                        F.max(key).alias("kmax")).collect()[0]
            ranges = {int(p): (r["kmin"], r["kmax"]) for p in committed}

        pkdf = kdf.withColumnRenamed(key, pkey)  # probe physical scans
        keep_fn = lambda df: df.join(pkdf, [pkey], "left_anti")  # noqa: E731
        for part, marker in sorted(committed.items()):
            files = (marker or {}).get("files") or {}
            if int(part) not in ranges:
                summary["files_untouched"] += len(files)
                continue
            kmin, kmax = ranges[int(part)]
            stats = (marker or {}).get("stats") or {}
            # candidate iff the file's [min, max] overlaps the keys'
            # [kmin, kmax]: may contain a row <= kmax AND a row >= kmin
            cand = [fn_ for fn_ in sorted(files)
                    if _file_may_match(stats.get(fn_), pkey, "<=", kmax)
                    and _file_may_match(stats.get(fn_), pkey, ">=", kmin)]
            summary["files_untouched"] += len(files) - len(cand)
            if not cand:
                continue
            _swap_filtered_rewrite(spark, out_dir, ledger, declared,
                                   int(part), cand, files, keep_fn,
                                   summary, dv=(marker or {}).get("dv"),
                                   stats_cols=stats_columns(meta))
        return summary
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def read_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    """The metrics table with supersede semantics: ONE row per
    (run_id, part) — the latest (created_us, shard) — so a partition
    that was invalidated and recomputed contributes only its fresh
    counters. Raw appended files remain on disk as history; every
    consumer (run_cost, QualityFilter.metrics) reads through here.
    Files from the pre-supersede layout (no created_us column) read as
    created_us=0/shard='' and lose to any recomputation, which is the
    correct precedence."""
    from pyspark.sql.window import Window
    # mergeSchema: a dir holding BOTH pre-supersede files (no
    # created_us/shard) and new ones must surface the new columns —
    # without it Spark may infer the old file's schema and the
    # precedence silently inverts; old rows' nulls coalesce to the
    # losing (0, '') key
    m = (spark.read.option("mergeSchema", "true")
         .parquet(os.path.join(out_dir, "_metrics")))
    if "created_us" not in m.columns:  # pre-supersede layout only
        m = (m.withColumn("created_us", F.lit(0).cast("long"))
             .withColumn("shard", F.lit("")))
    else:
        m = (m.withColumn("created_us",
                          F.coalesce("created_us", F.lit(0).cast("long")))
             .withColumn("shard", F.coalesce("shard", F.lit(""))))
    w = (Window.partitionBy("run_id", "part")
         .orderBy(F.col("created_us").desc(), F.col("shard").desc()))
    return (m.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


def run_cost(spark: SparkSession, out_dir: str,
             usd_per_1k_tokens: float = 0.002) -> DataFrame:
    """Cost accounting over the run's usage counters (reference: per-row
    litellm.completion_cost summed by the status tracker,
    base_online_request_processor.py:182-201 /
    online_status_tracker.py:124-126). The deterministic local analogue
    prices the recorded token volume: one row per run_id with token
    totals and derived USD cost — computed at read time from the
    metrics table, so historical runs get priced retroactively under
    any rate. Reads through read_metrics so recomputed partitions are
    never double-counted."""
    m = read_metrics(spark, out_dir)
    return (
        m.groupBy("run_id")
        .agg(F.sum("n_in").alias("n_rows"),
             F.sum("n_tokens").alias("n_tokens"))
        .withColumn("cost_usd",
                    F.round(F.col("n_tokens") / 1000.0
                            * F.lit(float(usd_per_1k_tokens)), 6))
    )


def read_with_lineage(spark: SparkSession, out_dir: str,
                      backend: str | None = None,
                      version: int | None = None) -> DataFrame:
    """Snapshot read + ROW-LEVEL PROVENANCE: every row annotated with
    `_lineage_file` (the parquet file holding it), `_lineage_part`,
    `_lineage_run_id` (the run owning the partition's manifest) and
    `_lineage_runs` (every run that ever contributed to the partition
    — multi-run after incremental appends). The debugging/audit verb
    at scale: "which ingestion run produced this bad row" answered
    from the commit manifests, no extra bookkeeping columns ever
    written into the data.

    Plan: the ordinary snapshot scan plus ONE broadcast join from
    `_metadata.file_path` onto the manifest map (k files — metadata-
    sized however large the table). Lineage rides the scan's own
    row-to-file attribution, so it is exact under compaction,
    restore, and time travel (the map is built from the SAME snapshot
    the read plans)."""
    backend = backend or detect_backend(out_dir)
    ledger = make_ledger(out_dir, backend)
    if getattr(ledger, "log_defined_visibility", False):
        committed = ledger.snapshot(version=version)[0]
    else:
        if version is not None:
            raise ValueError("time travel requires the commitlog ledger")
        committed = ledger.committed()
    rows = []
    for p, m in sorted((committed or {}).items()):
        if not m or m.get("status") != "COMMITTED":
            continue
        runs = list(m.get("runs")
                    or ([m.get("run_id")] if m.get("run_id") else []))
        for fn in (m.get("files") or {}):
            rows.append((fn, int(p), fn, int(p),
                         m.get("run_id"), runs))
    df = read_committed(spark, out_dir, backend=backend, version=version)
    if not rows:
        return (df.withColumn("_lineage_file",
                              F.lit(None).cast("string"))
                .withColumn("_lineage_part", F.lit(None).cast("int"))
                .withColumn("_lineage_run_id",
                            F.lit(None).cast("string"))
                .withColumn("_lineage_runs",
                            F.lit(None).cast("array<string>")))
    lineage = F.broadcast(spark.createDataFrame(
        rows, "_lname string, _lpart int, _lineage_file string, "
              "_lineage_part int, "
              "_lineage_run_id string, _lineage_runs array<string>"))
    # Join on a SCHEME-INDEPENDENT key: (part, file name). _metadata.
    # file_path is a URI whose rendering varies by filesystem
    # (file:/p, file:///p, s3a://bucket/p, hdfs://nn/p) — matching on
    # a normalized absolute path silently null-joins off the local
    # FS. File names are shard-unique within a part by construction,
    # so (part, name) identifies the file on any store.
    fp = F.col("_metadata").getField("file_path")
    return (df.withColumn("_lname", F.regexp_extract(fp, "[^/]+$", 0))
            .withColumn("_lpart",
                        F.regexp_extract(fp, "part=(\\d+)", 1)
                        .cast("int"))
            .join(lineage, ["_lname", "_lpart"], "left")
            .drop("_lname", "_lpart"))
