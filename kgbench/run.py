"""kgbench: steady 4-core benchmark of the KG triple factory.

    python3 kgbench/run.py --workload kg_hub --seed 1 --seconds 15 --trace 0

Run from the repository root.  Workloads: ``kg_hub``, ``kg_longtail``,
``kg_canon`` (see README.md).  One client runs a closed loop: the next
timed operation starts only after the previous one has finished and its
output has been checked.  The loop runs for ``--seconds`` and at least
``MIN_OPS`` operations.  The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer table of one traced operation
with ``--trace 1``.

Everything the run writes (inputs, outputs, Spark local and temp dirs,
the event log) stays under ``.kgbench_work/<pid>`` in the current
directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

MIN_OPS = 2
SETUP_REPS = 3
CORES = 4
HEAP = "3g"


class TreeRss(threading.Thread):
    """Samples the summed resident set of this process and all of its
    descendants (driver Python, JVM, Python workers) and keeps the peak."""

    def __init__(self, interval: float = 0.05):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict = {}
        comm: dict = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            comm[int(pid)] = stat[stat.index("(") + 1 : stat.rindex(")")]
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(int(pid))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            for child in children.get(pid, []):
                # a child the JVM is spawning shares the JVM's address space
                # until it execs, so it still runs the JVM's executable:
                # skip it, or that memory is counted twice
                if comm.get(pid) != "java" or _exe(child) != _exe(pid):
                    todo.append(child)
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def run(self) -> None:
        while not self._stop_event.wait(self.interval):
            self.peak = max(self.peak, self._tree_rss())

    def stop(self) -> None:
        self._stop_event.set()
        self.join()


def _exe(pid: int):
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _log(msg: str) -> None:
    print(f"kgbench: {msg}", file=sys.stderr, flush=True)


def _session(work: str, trace: bool):
    from phenoqc_spark.session import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.sql.shuffle.partitions": str(2 * CORES),
        "spark.driver.memory": HEAP,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed, pre-touched heap: G1's run-to-run heap growth would
        # otherwise swing peak_rss_mb by 15-30% between identical runs
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            f" -Xms{HEAP} -XX:+AlwaysPreTouch",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("kgbench", master=f"local[{CORES}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def _clean(spark) -> None:
    """Drop per-operation state between operations (untimed): Python-side
    handles, then one JVM GC so cleaned checkpoints and broadcasts do not
    pile up across operations."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def run(args, work: str) -> dict:
    from kgbench import tracing as TR
    from kgbench import workloads as W

    rss = TreeRss()
    rss.start()
    setup = {}
    t0 = time.perf_counter()
    spark = _session(work, bool(args.trace))
    setup["session"] = time.perf_counter() - t0
    try:
        wl = W.make(args.workload, args.seed, work)
        reps = []
        for _ in range(SETUP_REPS):
            reps.append(wl.setup(spark))
            _log(f"setup {reps[-1]}")
        for k in reps[0]:
            setup[k] = statistics.median(r[k] for r in reps)
        wl.expect()

        def timed_op(tag: str, warmup: bool = False):
            out = os.path.join(work, "out", tag)
            t = time.perf_counter()
            try:
                ok = wl.op(spark, out, warmup)
            except Exception:  # a failed operation is counted, not fatal
                traceback.print_exc()
                ok = False
            dt = time.perf_counter() - t
            shutil.rmtree(out, ignore_errors=True)
            _clean(spark)
            _log(f"{tag} {dt:.3f}s ok={ok}")
            return dt, ok

        setup["warmup"], _ = timed_op("warmup", warmup=True)

        if args.trace:
            untraced, ok1 = timed_op("untraced")
            tracer = TR.Tracer(spark)
            ok2 = wl.trace(spark, tracer, os.path.join(work, "out", "traced"))
            path = TR.CANON_PATH if args.workload == "kg_canon" else TR.PAGE_PATH
            _stop(spark)
            spark = None
            values = TR.report(
                tracer, TR.engine_counters(os.path.join(work, "events")), path, untraced, setup
            )
            units = dict(TR.PER_LAYER)
            metrics = {k: {"value": values[k], "unit": units[k]} for k, _ in TR.PER_LAYER}
            return {
                "correct": ok1 and ok2,
                "attempted": 2,
                "failed": int(not ok1) + int(not ok2),
                "metrics": metrics,
            }

        runs, failed = [], 0
        start = time.perf_counter()
        while len(runs) < MIN_OPS or time.perf_counter() - start < args.seconds:
            dt, ok = timed_op(f"op{len(runs)}")
            runs.append(dt)
            failed += int(not ok)
    finally:
        if spark is not None:
            _stop(spark)
        rss.stop()
    run_s = statistics.median(runs)
    return {
        "correct": failed == 0,
        "attempted": len(runs),
        "failed": failed,
        "metrics": {
            "run_s": {"value": run_s, "unit": "s"},
            "input_rows_per_s": {"value": wl.input_rows / run_s, "unit": "rows/s"},
            "setup_s": {"value": sum(setup.values()), "unit": "s"},
            "peak_rss_mb": {"value": rss.peak / 2**20, "unit": "MB"},
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["kg_hub", "kg_longtail", "kg_canon"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "phenoqc_spark", "pipeline.py")):
        print("kgbench: phenoqc_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".kgbench_work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"))
    # Spark, the JVM and the Python workers all write under the work dir
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    # import the benchmark as the ``kgbench`` package, never its modules
    # by bare name from the script's own directory
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [root] + [p for p in sys.path if os.path.abspath(p or ".") != here]
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
