"""kgx benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload kg --seed 1 --seconds 10 --trace 0

Run from the root of a kgx checkout. The benchmark

1. generates the workload's corpus from ``--seed`` and, in a child
   process that runs while the JVM starts, computes the expected outputs
   with the DuckDB oracles (both cached per seed under ``perfbench/.cache``,
   and neither part of any timing);
2. starts a ``local[4]`` Spark session SETUP_REPEATS times, then runs the
   workload once over a small fixed corpus; ``setup_s`` is the median
   session start plus that warm-up;
3. repeats the workload's operation until ``--seconds`` of it have been
   timed, checks every output against the oracle, and reports medians;
4. with ``--trace 1``, where the Spark event log is on from the start,
   runs the traced pass instead: the operation with each call under a
   job group, then each layer by itself, and reports the per-layer
   metrics.

The last line of standard output is the result; everything else goes to
standard error. Metric names and units come from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

CORES = 4
SETUP_REPEATS = 3
MAX_OPS = 50
#: an operation slower than this counts as failed
OP_TIMEOUT_S = 60.0


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def _spec_key(workload) -> str:
    return hashlib.sha256(repr(workload).encode()).hexdigest()[:12]


def _configure_env(work: str, events: str | None) -> None:
    """Everything Spark needs from outside ``kgx.session``: workers import
    ``kgx`` from this checkout, temporary files stay in the work directory,
    no progress bar reaches standard output, and with ``events`` the
    uncompressed event log (this Python has no ``zstandard``) goes there."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["KGX_DRIVER_MEM"] = "1g"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    confs = ["spark.ui.showConsoleProgress=false"]
    if events is not None:
        os.makedirs(events, exist_ok=True)
        confs += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{events}", "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            *(f"--conf {c}" for c in confs),
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            # no hsperfdata file under /tmp
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
            "pyspark-shell",
        ]
    )


def _documents(wl, seed: int, spec) -> str:
    """The corpus parquet of one workload spec and seed, cached."""
    import gen

    d = os.path.join(HERE, ".cache", f"{wl.name}-{_spec_key(spec)}", f"seed-{seed}")
    parquet = os.path.join(d, "documents.parquet")
    if not os.path.exists(parquet):
        os.makedirs(d, exist_ok=True)
        gen.write_parquet(spec, seed, parquet + ".tmp")
        os.replace(parquet + ".tmp", parquet)
    return parquet


def _start_oracle(wl, parquet: str) -> tuple[str, subprocess.Popen | None]:
    """(expected.json next to the corpus, the oracle process computing it,
    or None when it is cached). The oracle runs in a child process, so
    that DuckDB's memory and threads end with it."""
    expected = os.path.join(os.path.dirname(parquet), "expected.json")
    if os.path.exists(expected):
        return expected, None
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "oracle.py"), wl.name, parquet, expected, str(CORES)],
        stdout=sys.stderr,
    )
    return expected, proc


def _expected(path: str, proc: subprocess.Popen | None) -> dict:
    if proc is not None:
        t0 = time.time()
        if proc.wait() != 0:
            raise RuntimeError(f"oracle exited with code {proc.returncode}")
        log(f"oracle: waited {time.time() - t0:.1f}s")
    with open(path) as f:
        return json.load(f)


def _stop() -> None:
    """Stop the active session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _measure(spark, op, expected: dict, seconds: float, tree, work: str) -> dict:
    """Repeat the operation until ``seconds`` of it are timed (at least
    once), checking every output."""
    import procmon
    import workloads

    out = os.path.join(work, "op")
    ops, failed, attempted, timed = [], 0, 0, 0.0
    while attempted < MAX_OPS and (attempted == 0 or timed < seconds):
        attempted += 1
        shutil.rmtree(out, ignore_errors=True)
        tree.reset_peak()
        before = tree.sample()
        t0 = time.time()
        try:
            result = op.run(spark, out)
            wall = time.time() - t0
            cpu = procmon.delta(before, tree.sample())
            peak = tree.peak_pss()
            _, size = workloads.written(out, t0)
            rows, err = op.check(result, out, expected)
        except Exception:  # an operation that raises is a failed operation
            timed += time.time() - t0
            failed += 1
            log(traceback.format_exc())
            continue
        timed += wall
        if err is None and wall > OP_TIMEOUT_S:
            err = f"took {wall:.1f}s, over the {OP_TIMEOUT_S:.0f}s limit"
        if err is not None:
            failed += 1
            log(f"op {attempted} failed: {err}")
        log(f"op {attempted}: {wall:.3f}s rows={rows}")
        ops.append({"wall": wall, "cpu": cpu["jvm"] + cpu["python"], "peak": peak, "bytes": size, "rows": rows})
    return {"ops": ops, "failed": failed, "attempted": attempted}


def _end_to_end(measured: dict, setup_s: float, input_docs: int) -> dict:
    from workloads import median

    ops = measured["ops"]
    wall = median([o["wall"] for o in ops])
    return {
        "wall_s": wall,
        "docs_per_s": input_docs / wall if wall else 0.0,
        "rows_per_s": median([o["rows"] for o in ops]) / wall if wall else 0.0,
        "cpu_s": median([o["cpu"] for o in ops]),
        "peak_pss_mb": median([o["peak"] for o in ops]) / 1e6,
        "out_mb": median([o["bytes"] for o in ops]) / 1e6,
        "setup_s": setup_s,
    }


def _trace(spark, wl, op, expected: dict, tree, work: str, m: dict) -> str | None:
    """Run the traced pass, stop the session and fold its event log into
    ``m``. Returns the error of the traced operation's output check, or
    None."""
    import eventlog
    import workloads

    tr = workloads.Tracer(spark, tree)
    out = os.path.join(work, "trace-op")
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    result = op.run(spark, out, tr.layer)
    m["trace.op_wall_s"] = time.time() - t0
    # measured directly: the difference from an untraced operation in the
    # same process is swamped by the JIT still speeding operations up
    m["trace.overhead_s"] = tr.bookkeeping_s
    _, err = op.check(result, out, expected)
    workloads.TRACES[wl.name](tr, op, result, out, m)
    _stop()
    workloads.spark_metrics(tr, eventlog.parse(eventlog.log_files(_events(work))), m)
    return err


def _events(work: str) -> str:
    return os.path.join(work, "events")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        manifest = json.load(f)
    sys.path.insert(0, ROOT)
    try:
        import kgx  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the program under test from {ROOT}: {e}")
        return 2

    import procmon
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        return 2
    wl = workloads.WORKLOADS[args.workload]
    work = os.path.join(HERE, ".work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    _configure_env(work, _events(work) if args.trace else None)

    documents = _documents(wl, args.seed, wl.spec)
    warm_documents = _documents(wl, workloads.WARM_SEED, wl.warm_spec)

    from kgx.session import get_spark

    tree = procmon.ProcessTree().start()
    spark = oracle_proc = None
    try:
        expected_path, oracle_proc = _start_oracle(wl, documents)
        sessions, expected = [], None
        for _ in range(1 if args.trace else SETUP_REPEATS):
            t0 = time.time()
            if spark is not None:
                spark.stop()
            spark = get_spark("kgx-perfbench", master=f"local[{CORES}]")
            sessions.append(time.time() - t0)
            if expected is None:
                # the oracle overlaps only the JVM's start, which the
                # median of the session starts leaves out
                expected = _expected(expected_path, oracle_proc)
                oracle_proc = None
        t0 = time.time()
        # also spawns the Python workers, on the workload that uses them
        workloads.Op(wl.name, warm_documents).run(spark, os.path.join(work, "warm"))
        warm_s = time.time() - t0
        log(f"setup: sessions {[round(x, 3) for x in sessions]}, warm-up {warm_s:.3f}s")

        op = workloads.Op(wl.name, documents)
        if args.trace:
            m = dict.fromkeys((x["name"] for x in manifest["per_layer"]), 0.0)
            failed, attempted = 0, 1
            try:
                err = _trace(spark, wl, op, expected, tree, work, m)
            except Exception:  # the traced pass failing is a failed operation
                err = traceback.format_exc()
            if err is not None:
                failed = 1
                log(f"traced op failed: {err}")
        else:
            measured = _measure(spark, op, expected, args.seconds, tree, work)
            m = _end_to_end(measured, workloads.median(sessions) + warm_s, wl.spec.docs)
            failed, attempted = measured["failed"], measured["attempted"]
        metrics_spec = manifest["per_layer" if args.trace else "end_to_end"]
    finally:
        if oracle_proc is not None and oracle_proc.poll() is None:
            oracle_proc.kill()
            oracle_proc.wait()
        _stop()
        tree.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work directory is still there
            pass

    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {x["name"]: {"value": float(m.get(x["name"], 0.0)), "unit": x["unit"]} for x in metrics_spec},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
