"""curator-spark benchmark: one command, named workloads, checked outputs.

    python3 perfbench/run.py --workload batch_curate --seed 1 --seconds 5 \
        --trace 0

Runs one workload against the curator_spark package that sits next to this
directory, as a single process with one closed-loop client on
``local[nproc]``. It prints a human-readable report, then as its last
stdout line one JSON object {"correct", "attempted", "failed", "metrics"}:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A traced run spends half of ``--seconds`` untraced and half
traced, so it can report the tracing overhead, then times each layer's
public functions. ``--smoke`` shrinks every input, prints both metric sets
and checks that a deliberately corrupted output fails the checks.

The exit code is 0 only when every operation and check passed. Without the
curator_spark package next to this directory it exits with code 2 before
doing anything. All scratch files live under ``.perfbench_work/`` in the
checkout and are removed at exit; Spark's local dirs follow
``SPARK_LOCAL_DIRS`` when it is set.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from tracing import (  # noqa: E402
    SparkStages, Tracer, median, percentile, process_tree, tree_peak_rss_mb)

WORKLOAD_NAMES = ("batch_curate", "append_probe")

END_TO_END_UNITS = {
    "setup_s": "s", "write_p50_ms": "ms", "turns_per_s": "turns/s",
    "stored_bytes_per_input_byte": "ratio", "peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "langid.us_per_turn": "us", "ngram_lm.us_per_turn": "us",
    "rules.scrub_us_per_turn": "us", "rules.heuristic_us_per_turn": "us",
    "scoring.us_per_turn": "us",
    "pipeline.score_s": "s", "pipeline.conv_agg_s": "s",
    "pipeline.staged_s": "s", "pipeline.shuffle_read_mb": "MB",
    "pipeline.input_mb": "MB",
    "checkpoint.run_s": "s", "checkpoint.overhead_s": "s",
    "checkpoint.commits": "count", "checkpoint.files_written": "count",
    "checkpoint.spark_jobs": "count",
    "checkpoint.probe_p50_ms": "ms", "checkpoint.delete_p50_ms": "ms",
    "checkpoint.plan_ms": "ms", "checkpoint.files_planned": "count",
    "checkpoint.files_live": "count", "checkpoint.dv_files": "count",
    "incremental.fingerprint_s": "s", "incremental.rows_rescanned": "count",
    "incremental.novel_ratio": "ratio",
    "spark.write_core_busy_frac": "ratio", "spark.write_tasks": "count",
    "spark.write_failed_tasks": "count",
    "spark.probe_core_busy_frac": "ratio", "spark.probe_tasks": "count",
    "spark.probe_failed_tasks": "count",
    "spark.delete_core_busy_frac": "ratio", "spark.delete_tasks": "count",
    "spark.delete_failed_tasks": "count",
    "trace.write_overhead_frac": "ratio", "trace.probe_overhead_frac": "ratio",
    "trace.bookkeeping_ms": "ms",
}
# the names the workloads' generic end-to-end metrics stand for
ALIASES = {
    "batch_curate": {"turns_per_s": "curate_turns_per_s",
                     "write_p50_ms": "curate_run_p50_ms"},
    "append_probe": {"turns_per_s": "append_turns_per_s",
                     "write_p50_ms": "append_p50_ms"},
}


class Context:
    """What a workload needs: the session, its scratch dir, the seed and
    the measurement helpers."""

    def __init__(self, spark, work, seed, smoke, nproc, tracer) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.smoke = smoke
        self.nproc = nproc
        self.tracer = tracer
        self.stages = None


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, both metric sets, corruption test")
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and put the
    package on the Spark Python workers' path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, ROOT)


def start_session(work: str, nproc: int):
    from curator_spark.session import get_spark
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if not os.environ.get("SPARK_LOCAL_DIRS"):
        conf["spark.local.dir"] = os.path.join(work, "spark-local")
    spark = get_spark("perfbench", parallelism=nproc, **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for every child."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    except Exception as e:  # noqa: BLE001 - the JVM may already be gone
        print(f"perfbench: stopping Spark: {e}", file=sys.stderr)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    kill_tree(signal.SIGTERM)


def kill_tree(sig=signal.SIGKILL) -> None:
    """Signal every descendant process, then reap them and wait (up to
    30 s) until none is left."""
    for pid in process_tree()[1:]:
        try:
            os.kill(pid, sig)
        except OSError:
            pass
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        if len(process_tree()) == 1:
            return
        time.sleep(0.2)


def measure_loop(wl, seconds: float) -> None:
    """Closed loop: cycles until `seconds` have passed, at least one; a
    cycle starts only if half its expected length still fits."""
    t0 = time.perf_counter()
    n = 0
    while True:
        wl.cycle()
        n += 1
        elapsed = time.perf_counter() - t0
        if elapsed + 0.5 * elapsed / n > seconds:
            return


def end_to_end(wl, setup_s: float, peak_mb: float) -> dict[str, float]:
    s = wl.samples
    m = {"setup_s": setup_s,
         "write_p50_ms": median(s[("write", False)]),
         "peak_rss_mb": peak_mb}
    m.update(wl.metrics())
    return m


def per_layer(wl, session_s: float) -> dict[str, float]:
    s = wl.samples
    m = {"session.start_s": session_s,
         "checkpoint.probe_p50_ms": median(s[("probe", False)]),
         "checkpoint.delete_p50_ms": median(s[("delete", False)])}
    m.update(wl.layer_metrics)
    for kind in ("write", "probe"):
        if s.get((kind, True)) and s.get((kind, False)):
            m[f"trace.{kind}_overhead_frac"] = (
                median(s[(kind, True)]) / median(s[(kind, False)]) - 1.0)
    m["trace.bookkeeping_ms"] = wl.ctx.tracer.bookkeeping_s * 1000.0
    return m


def report(wl, args, nproc, load, peak, e2e, layers) -> None:
    print(f"# perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} nproc={nproc} "
          f"loadavg_start={load[0]:.2f},{load[1]:.2f},{load[2]:.2f}")
    s = wl.samples
    counts = {k: len(v) for k, v in s.items() if not k[1]}
    print("# samples (untraced): " + ", ".join(
        f"{k[0]}={n}" for k, n in sorted(counts.items())))
    print("# peak_rss_mb by process: " + ", ".join(
        f"{k}={v:.0f}" for k, v in sorted(peak.items())))
    for (kind, traced), v in sorted(s.items()):
        print(f"# {kind}_ms{' (traced)' if traced else ''}: "
              + " ".join(f"{x:.0f}" for x in v))
    if e2e:
        alias = ALIASES[args.workload]
        for k, v in e2e.items():
            name = f"{k} ({alias[k]})" if k in alias else k
            print(f"  {name:<42} {v:>14.4f} {END_TO_END_UNITS[k]}")
        for kind in ("probe", "delete"):
            v = s[(kind, False)]
            print(f"  {kind + '_p50_ms':<42} {median(v):>14.4f} ms "
                  f"(n={len(v)}, not gated)")
        v = s[("probe", False)]
        print(f"  {'probe_p90_ms':<42} {percentile(v, 90):>14.4f} ms "
              f"(n={len(v)}, not gated)")
        frac = len(wl.failures) / max(1, wl.attempted)
        print(f"  {'ops_failed_frac':<42} {frac:>14.4f} failed/attempted")
    if layers:
        for k, v in layers.items():
            print(f"  {k:<42} {v:>14.4f} {PER_LAYER_UNITS[k]}")
        print("# span tree (per path: count, total, self time)")
        for line in wl.ctx.tracer.tree_lines():
            print("  " + line)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "curator_spark", "__init__.py")):
        print(f"perfbench: no curator_spark package in {ROOT}; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    try:
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: pyspark is not importable: {e}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    load = os.getloadavg()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    def on_term(*_):
        # raising here could interrupt a py4j call halfway and leave the
        # gateway unusable, so kill the children outright instead
        kill_tree()
        shutil.rmtree(work, ignore_errors=True)
        os._exit(143)

    signal.signal(signal.SIGTERM, on_term)
    spark = None
    try:
        prepare_env(work)
        t_setup = time.perf_counter()
        spark = start_session(work, nproc)
        session_s = time.perf_counter() - t_setup

        from workloads import WORKLOADS
        traced = bool(args.trace) or args.smoke
        ctx = Context(spark, work, args.seed, args.smoke, nproc,
                      Tracer(False))
        wl = WORKLOADS[args.workload](ctx)
        wl.setup()
        setup_s = time.perf_counter() - t_setup

        seconds = 1.0 if args.smoke else args.seconds
        wl.recording = True
        measure_loop(wl, seconds / 2 if traced else seconds)
        layers = {}
        if traced:
            ctx.tracer = Tracer(True)
            ctx.stages = SparkStages(spark)
            measure_loop(wl, seconds / 2)
            wl.layers()
            layers = per_layer(wl, session_s)
        wl.recording = False
        wl.verify()
        peak = tree_peak_rss_mb()
        e2e = end_to_end(wl, setup_s, sum(peak.values()))

        corruption_caught = None
        if args.smoke:
            n_fail = len(wl.failures)
            corruption_caught = wl.corrupt_and_verify()
            del wl.failures[n_fail:]  # the planted failure is expected
        if traced:
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            with open(os.path.join(
                    ROOT, ".perfbench_out",
                    f"spans-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(ctx.tracer.spans, f)
        stop_session(spark)
        spark = None

        report(wl, args, nproc, load, peak,
               e2e if (not args.trace or args.smoke) else {}, layers)
        ok = not wl.failures
        if corruption_caught is not None:
            print(f"# smoke: corrupted output "
                  f"{'was caught' if corruption_caught else 'WAS NOT caught'}"
                  " by the correctness check")
            ok = ok and corruption_caught
        metrics = layers if args.trace else e2e
        if args.smoke:
            metrics = {**e2e, **layers}
        units = {**END_TO_END_UNITS, **PER_LAYER_UNITS}
        print(json.dumps({
            "correct": ok, "attempted": wl.attempted,
            "failed": len(wl.failures),
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()}}))
        return 0 if ok else 1
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))  # only if no run is left
            except OSError:
                pass


if __name__ == "__main__":
    sys.exit(main())
