"""Benchmark of the index + BM25 query engine.

    python3 perfbench/run.py --workload serve|recrawl --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Each run starts its own pinned
local Spark session, generates its inputs from ``--seed``, drives the
engine's public functions from one client thread, checks every result
against ``semcode_spark.oracle.BM25Oracle`` outside the timed regions and
prints, as its last line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). Lines before it are for people: the
effective Spark conf, the box, the realized query mix and every metric by
name with its unit. All files live under ``.perfbench_work/`` in the
checkout and are removed when the run ends; a traced run keeps its span
dump in ``.perfbench_spans/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
# one directory per run, so runs sharing a checkout never touch each
# other's files
WORK = ROOT / ".perfbench_work" / f"run-{os.getpid()}"


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _timeout(signum, frame) -> None:
    raise TimeoutError("run exceeded its time limit")


def _ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _pin_env(work: Path) -> None:
    """Every scratch file the run, the JVM and the Python workers make
    goes under ``work``; workers import the engine from the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = str(ROOT)
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    import tempfile
    tempfile.tempdir = None


def pinned_conf(work: Path, nproc: int, ram_mb: int) -> dict[str, str]:
    """The session settings the numbers depend on, fixed here rather than
    taken from ``semcode_spark.session.get_spark`` (whose defaults assume
    32 cores and a 16 GB heap): one executor thread per core, one shuffle
    partition per core, a heap well below physical RAM, and local dirs
    inside the checkout."""
    heap_mb = min(4096, ram_mb // 4)
    return {
        "spark.master": f"local[{nproc}]",
        "spark.app.name": "perfbench",
        "spark.sql.shuffle.partitions": str(nproc),
        "spark.driver.memory": f"{heap_mb}m",
        "spark.driver.extraJavaOptions":
            f"-XX:+UseParallelGC -Djava.io.tmpdir={work / 'tmp'}",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.files.maxPartitionBytes": "16m",
        "spark.sql.autoBroadcastJoinThreshold": "64MB",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job back from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until the JVM and
    every process it started (Python workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = _descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 20
    while time.time() < deadline and any(_alive(p) for p in procs):
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in procs) and time.time() < deadline + 10:
        time.sleep(0.1)
    for p in procs:
        try:
            os.waitpid(p, os.WNOHANG)
        except ChildProcessError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve", "recrawl"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "semcode_spark" / "__init__.py").is_file():
        _fail(f"no semcode_spark package under {ROOT}: run from a source checkout")
    sys.path.insert(0, str(ROOT))

    WORK.mkdir(parents=True)
    # a run must end within 180 s: past 175 s, fail (and clean up) instead
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(175)
    spark = None
    try:
        _pin_env(WORK)
        nproc = len(os.sched_getaffinity(0))
        ram_mb = _ram_mb()
        conf = pinned_conf(WORK, nproc, ram_mb)
        print(f"# box: nproc={nproc} ram_mb={ram_mb} python={sys.version.split()[0]}")

        import workloads
        from pyspark.sql import SparkSession

        t0 = time.perf_counter()
        builder = SparkSession.builder
        for k, v in conf.items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()  # the session is usable once a job has run
        session_s = time.perf_counter() - t0
        effective = {k: spark.conf.get(k) for k in conf
                     if not k.startswith("spark.driver.extraJava")}
        print(f"# spark {spark.version} conf: {json.dumps(effective, sort_keys=True)}")
        run = workloads.WORKLOADS[args.workload]
        res = run(spark, WORK, args.seed, args.seconds, bool(args.trace),
                  session_s, nproc)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
        try:
            WORK.parent.rmdir()
        except OSError:
            pass  # another run is using it
        signal.alarm(0)

    for line in res.notes:
        print(f"# {line}")
    shown = res.layer if args.trace else res.e2e
    for name, (value, unit) in {**res.e2e, **res.layer}.items():
        print(f"{name} = {value:.6g} {unit}")
    print(f"failed_frac = {res.failed / max(res.attempted, 1):.6g} fraction "
          f"({res.failed} of {res.attempted} ops)")
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in shown.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
