"""Benchmark of the transcript cardinality pipeline, run from outside.

    python3 perfbench/run.py --workload batch_large --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one client that waits for each result):

* ``batch_large``: the production pass of ``bench.py:pipeline_pass`` over
  100k turns: ``routed_turns`` -> snappy parquet partitioned by sink ->
  read back -> the five aggregate families in one ``collect``. Per-turn
  work (parse, routed write, aggregate shuffle) is 59-66% of a pass.
* ``query_mix``: cycles of the ten cardinality "REST API" reads of
  ``ops.QUERIES`` over 50k turns, in a seed-shuffled order. The fixed
  floor (driver-side DataFrame build, schema and broadcast jobs, job
  scheduling) dominates.

With ``--trace 0`` the last stdout line holds the end-to-end metrics; with
``--trace 1`` a separate traced process prints the per-layer table
(``layers.py``) and its metrics. Every timed result is checked against
the DuckDB ``oracle_sql()`` of the library; failures count in ``failed``.
Inputs, expected results and scratch files live under ``.bench_work/`` in
the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

T_START = time.time()
HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

from prep import BATCH_N, QUERY_N, WARM_N, WORK, sf_dir, window_of  # noqa: E402

# the driver JVM's heap, fixed at start (-Xms = -Xmx): a heap that grows on
# demand made its peak RSS swing by a quarter between identical runs
DRIVER_MEM = "2g"
WORKLOADS = {"batch_large": BATCH_N, "query_mix": QUERY_N}


def _configure(seed: int) -> int:
    """Point the library, Spark and temp files into the checkout. Must run
    before the library is imported: ``datagen.DATA_ROOT`` is read then."""
    window = window_of(seed)
    tmp = WORK / "tmp"
    for d in (tmp, WORK / "spark-local", WORK / "sf"):
        d.mkdir(parents=True, exist_ok=True)
    ncpu = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_DATA_ROOT": str(WORK / "data" / f"w{window}"),
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "TMPDIR": str(tmp),
    })
    return window


class Session:
    """The one Spark session of a run; ``restart`` starts a fresh context
    in the same JVM, e.g. with another ``local[n]``."""

    def __init__(self, cores: int, event_log: Path | None):
        self.cores = cores
        self.conf = {
            "spark.local.dir": str(WORK / "spark-local"),
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            # keep the JVM's temp files (and no hsperfdata) out of /tmp
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} "
                f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
            "spark.hadoop.hadoop.tmp.dir": str(WORK / "tmp"),
        }
        if event_log is not None:
            event_log.mkdir(parents=True, exist_ok=True)
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                # no Python zstd module to read the default codec
                "spark.eventLog.compress": "false",
            })
        self.spark = None

    def start(self, cores: int | None = None):
        from otlp_cardinality_checker_spark import session

        cores = cores or self.cores
        self.spark = session.get_spark(
            app_name="perfbench", cores=cores,
            shuffle_partitions=max(cores, 16), extra_conf=self.conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def restart(self, cores: int | None = None):
        self.spark.stop()
        return self.start(cores)

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        gw.shutdown()
        gw.proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


def vm_hwm_kb(pid: int | str) -> int:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return 0


def cpu_s(pid: int | str) -> float:
    """User plus system CPU time a process has used so far."""
    fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


class Counter:
    def __init__(self):
        self.attempted = self.failed = 0

    def add(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1


def workload_op(name: str, sess: Session, seed: int, n_turns: int,
                expect: dict | None, counter: Counter | None) -> list[float]:
    """One closed-loop cycle of a workload at ``n_turns``: returns the
    latencies of the operations it ran (one pass, or the ten queries).
    ``expect=None`` runs it unchecked, as a warm-up."""
    import ops

    counter = counter or Counter()
    if name == "batch_large":
        steps = [lambda: ops.pipeline_pass(
            sess.spark, sf_dir(n_turns), WORK / "run" / "pass", expect
        )]
    else:
        import __spark_entry__ as entry

        order = list(ops.QUERIES)
        random.Random(seed).shuffle(order)
        queries = entry.queries()
        steps = [
            lambda q=q: ops.run_query(sess.spark, queries, q, sf_dir(n_turns), expect)
            for q in order
        ]
    out = []
    for step in steps:
        try:
            dt, ok = step()
        except Exception:  # an operation that errors counts as failed
            traceback.print_exc()
            counter.add(False)
            continue
        counter.add(ok)
        out.append(dt)
    return out


def set_up(sess: Session, excluded_s: float) -> tuple[float, float]:
    """Session up plus an unchecked warm-up pass at 5k turns, counted from
    process start: library import, JVM launch and the first session are
    in it, input preparation (``excluded_s``) is not. Returns the set-up
    time and how long the JVM and session took to start."""
    t0 = time.time()
    sess.start()
    session_start_s = time.time() - t0
    workload_op("batch_large", sess, 0, WARM_N, None, None)
    return time.time() - T_START - excluded_s, session_start_s


def settle(sess: Session) -> None:
    """One unchecked batch_large pass at full size before timing: the first
    pass at 100k turns after set-up runs 3-20% slower (JIT)."""
    workload_op("batch_large", sess, 0, BATCH_N, None, None)


def steal_ticks() -> tuple[int, int]:
    """(stolen, total) ticks of this machine's CPUs so far, from
    ``/proc/stat``; guest time is already in user time, so not added."""
    ticks = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return ticks[7], sum(ticks[:8])


def calibrate(ncpu: int) -> dict:
    """Host context, not a metric: a pure-Python spin and the aggregate
    memory-copy bandwidth of ``ncpu`` processes, before the JVM starts."""
    import bench

    return {
        "spin_s": bench.spin_calibration_sec(5_000_000),
        "bandwidth_gbps": bench.bandwidth_probe_gbps(n_procs=ncpu, trials=1),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    window = _configure(args.seed)
    import otlp_cardinality_checker_spark  # noqa: F401  (fails outside a checkout)
    import ops
    import prep

    ncpu = int(os.environ["SPARK_GRAFT_CPUS"])
    t_prep = time.time()
    context = {"workload": args.workload, "seed": args.seed, "window": window,
               "cores": ncpu, "calibration": calibrate(ncpu)}
    n_turns = WORKLOADS[args.workload]
    sizes = {WARM_N, n_turns} | ({QUERY_N} if args.trace else set())
    for n in sorted(sizes):
        prep.write_window(n, window)
    expect = {n: prep.expectations(sf_dir(n), ops.QUERIES) for n in sizes - {WARM_N}}
    prep_s = time.time() - t_prep
    # the peak memory of this process counts from here: preparing inputs
    # (pandas frames, DuckDB) is harness work, and only a first run does it
    Path("/proc/self/clear_refs").write_text("5")

    run_dir = WORK / "run"
    import shutil

    shutil.rmtree(run_dir, ignore_errors=True)
    sess = Session(ncpu, run_dir / "eventlog" if args.trace else None)
    counter = Counter()
    try:
        setup_s, session_start_s = set_up(sess, prep_s)
        if args.workload == "batch_large" and not args.trace:
            settle(sess)
        if args.trace:
            import layers

            metrics, table = layers.traced_run(
                sess, args, expect, counter, session_start_s
            )
            print(table)
        else:
            cycles = []
            jvm = sess.jvm_pid()
            cpu0 = cpu_s("self") + cpu_s(jvm)
            steal0 = steal_ticks()
            t0 = time.time()
            while time.time() - t0 < args.seconds:
                cycles.append(workload_op(args.workload, sess, args.seed,
                                          n_turns, expect[n_turns], counter))
            cpu = cpu_s("self") + cpu_s(jvm) - cpu0
            stolen, total = (b - a for a, b in zip(steal0, steal_ticks()))
            rss_kb = vm_hwm_kb("self") + vm_hwm_kb(jvm)
            # a cycle's mean latency: over a query_mix cycle it weighs all
            # ten queries, where a median would pick one or two of them
            op_s = statistics.median(statistics.mean(c) for c in cycles if c)
            n_ops = sum(len(c) for c in cycles)
            # the share of CPU the hypervisor took while timing flags a
            # noisy window
            context.update({"op_s": cycles, "cycle_mean_op_s": op_s,
                            "steal_share": stolen / max(total, 1)})
            # throughputs, not their inverse times: under a bound on how much
            # worse a median may get, a time fails at a smaller host slowdown
            metrics = {
                # one cold set-up a run: a median over three would cost two
                # more JVM launches and cold passes (~20 s each on 4 cores)
                "setup_s": (setup_s, "s"),
                "turns_per_s": (n_turns / op_s, "1/s"),
                "turns_per_cpu_s": (n_ops * n_turns / cpu, "1/s"),
                "peak_rss_mb": (rss_kb / 1024, "MB"),
            }
    finally:
        sess.shutdown()
    context.update({"prepare_s": prep_s,
                    "failed_share": counter.failed / max(counter.attempted, 1)})
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": counter.failed == 0 and counter.attempted > 0,
        "attempted": counter.attempted,
        "failed": counter.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
