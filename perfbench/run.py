"""Closed-loop benchmark of the engine's sync, dedup and vector-store paths.

    python3 perfbench/run.py --workload sync_cycles --seed 1 --seconds 12 --trace 0

Runs from any working directory; the engine is imported from the
directory that holds ``perfbench/``. Set-up (session start, inputs, the
initial seed or index build and untimed warm-up ops) is reported as
``setup_s``; then a fixed sequence of timed ops runs, sized from
``--seconds``, and every op's output is checked outside the timed
window. The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Metric
definitions are in ``perfbench/README.md``.
"""

import time

_T0 = time.perf_counter()  # setup_s counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from collections import Counter  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Fewest timed ops in a run, whatever --seconds says.
MIN_OPS = 3
#: A run stops starting timed ops once they have taken this many times
#: --seconds, so a badly regressed program still exits in time.
OVERRUN = 4
#: Spark task slots (``local[CORES]``) and JVM GC threads of a run.
CORES = 2


def _parse(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(scratch: str, trace: bool) -> str:
    """Point every scratch path of the run (Python tempfiles, Spark local
    dirs, JVM tmpdir, warehouse, event log) into ``scratch`` and put the
    engine on the Python workers' path. Returns the event-log dir."""
    from spans import spark_submit_args

    tmp, local, events = (os.path.join(scratch, d) for d in ("tmp", "local", "events"))
    for d in (tmp, local, events):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # Fewer runnable threads than the box has cores, so a run measures the
    # program rather than the host's scheduler: two Spark task slots, two
    # GC threads, one BLAS thread per Python process (the driver and the
    # Python workers inherit this environment).
    os.environ.update(SPARK_GRAFT_CPUS=str(CORES), OPENBLAS_NUM_THREADS="1", OMP_NUM_THREADS="1")
    jvm = f"-Djava.io.tmpdir={tmp} -XX:ParallelGCThreads={CORES} -XX:ConcGCThreads=1"
    submit = [
        "--driver-java-options", shlex.quote(jvm),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}"),
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        submit.append(spark_submit_args(events))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    return events


def io_probe(spark, scratch: str, repeats: int = 3) -> float:
    """Box-state probe: the fixed micro-op of bench.py's ``_io_probe``
    (write a constant 1k-row frame to parquet, read it back through a
    tiny shuffle; median of ``repeats``). A copy, so that a change to
    bench.py does not change this benchmark. It keeps every digit of
    the median instead of rounding it to milliseconds, and takes 3
    repeats instead of 5: a repeat costs about half a second, paid twice
    in every run."""
    from pyspark.sql import functions as F

    frame = spark.range(1_000).withColumn("k", F.col("id") % 7)
    d = tempfile.mkdtemp(prefix="ioprobe_", dir=scratch)
    times = []
    try:
        for i in range(repeats):
            t0 = time.perf_counter()
            frame.coalesce(1).write.mode("overwrite").parquet(f"{d}/p{i}")
            spark.read.parquet(f"{d}/p{i}").groupBy("k").count().count()
            times.append(time.perf_counter() - t0)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return statistics.median(times)


class Tally:
    def __init__(self):
        self.attempted = self.failed = 0
        self.errors: Counter[str] = Counter()
        self.write_s: list[float] = []
        self.read_s: list[float] = []
        self.op_s: list[tuple[bool, float]] = []  # (traced, write + reads wall)
        self.new_bytes = self.changed_bytes = 0
        self.rates: list[float] = []  # input rows / wall of each timed write op
        self.last: tuple[float, list[float]] = (0.0, [])  # (write, reads) wall of the latest op


def _phase(what: str) -> None:
    print(f"# {time.perf_counter() - _T0:8.2f}s {what}", file=sys.stderr, flush=True)


def _walls(tally: Tally) -> str:
    write, reads = tally.last
    return f"write {write:.3f}s read " + " ".join(f"{r:.3f}s" for r in reads)


def _attempt(tally: Tally, fn, check, ctx):
    """Run one op and its check; a raise or a failed check is counted,
    its exception type recorded, and the run goes on. Returns the op's
    wall time and the check's stats (None on failure)."""
    tally.attempted += 1
    t0 = time.perf_counter()
    try:
        result = fn(ctx)
    except Exception as e:  # noqa: BLE001 - the run must go on and report it
        wall = time.perf_counter() - t0
        tally.failed += 1
        tally.errors[type(e).__name__] += 1
        traceback.print_exc(file=sys.stderr)
        return wall, None
    wall = time.perf_counter() - t0
    try:
        return wall, check(ctx, result) or {}
    except Exception as e:  # noqa: BLE001
        tally.failed += 1
        tally.errors[type(e).__name__] += 1
        traceback.print_exc(file=sys.stderr)
        return wall, None


def _one_op(wl, ctx, tally: Tally, timed: bool, candidates: list | None) -> None:
    """One write op and its read ops: ``wl.reads`` of them in a timed op,
    one in a warm-up op. With ``candidates`` (a list), the candidate
    pairs are counted after the write op, outside its clock."""
    wl.prepare(ctx)
    w_wall, stats = _attempt(tally, wl.write, wl.check_write, ctx)
    if candidates is not None and stats is not None and hasattr(wl, "candidates_per_planted_pair"):
        with ctx.tracer.span("check.candidates", ctx.op):
            candidates.append(wl.candidates_per_planted_pair())
    r_walls = []
    for _ in range(wl.reads if timed else 1):
        wl.prepare_read(ctx)
        r_walls.append(_attempt(tally, wl.read, wl.check_read, ctx)[0])
    tally.last = (w_wall, r_walls)
    if not timed:
        return
    tally.write_s.append(w_wall)
    tally.read_s.extend(r_walls)
    tally.op_s.append((ctx.tracer.active, w_wall + sum(r_walls)))
    tally.rates.append(wl.op_rows / w_wall)
    if stats is not None:
        tally.new_bytes += stats["new_bytes"]
        tally.changed_bytes += wl.changed_bytes


def _leaked_dirs(scratch: str, spark) -> int:
    """Scratch dirs the engine left behind: ``poe_*`` temp dirs and
    checkpoint dirs. Counted before the run's scratch root is removed,
    so a leak is reported instead of hidden."""
    tmp = os.path.join(scratch, "tmp")
    names = [n for n in os.listdir(tmp) if n.startswith("poe_") or "checkpoint" in n]
    ckpt = spark.sparkContext.getCheckpointDir()
    return len(names) + (1 if ckpt and os.path.isdir(ckpt.replace("file:", "", 1)) else 0)


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - still must not leave it running
            proc.kill()
            proc.wait()


def run(args, scratch: str) -> dict:
    from spans import QUANTITIES, SPANS, Tracer, span_metrics
    from workloads import WORKLOADS, Ctx

    trace = bool(args.trace)
    events = _prepare_env(scratch, trace)
    sys.path.insert(0, ROOT)
    from python_openetl_spark.session import get_spark

    tracer = Tracer(active=trace)
    with tracer.span("session.get_spark", None):
        spark = get_spark()
    try:
        tracer.sc = spark.sparkContext
        _phase("session started")
        wl = WORKLOADS[args.workload]()
        ctx = Ctx(spark, tracer, scratch, args.seed)
        wl.setup(ctx)
        _phase("workload set up")
        tracer.active = False
        tally = Tally()
        for _ in range(wl.warmup):
            _one_op(wl, ctx, tally, timed=False, candidates=None)
            _phase("warm-up op: " + _walls(tally))
        probe_start = io_probe(spark, scratch)
        setup_s = time.perf_counter() - _T0

        n_ops = max(MIN_OPS, round(args.seconds / wl.nominal_op_s))
        if trace:  # whole (traced, untraced, untraced, traced) groups
            n_ops = -(-n_ops // 4) * 4
        cands: list[float] = []
        t_timed = time.perf_counter()
        for i in range(n_ops):
            if i >= 2 and time.perf_counter() - t_timed > OVERRUN * args.seconds:
                print(f"# stopped after {i} of {n_ops} ops: over time", file=sys.stderr)
                break
            ctx.op = i
            # The traced run traces half of its ops, which gives
            # trace.overhead_ratio from one process. The pattern
            # (traced, untraced, untraced, traced) puts traced ops as often
            # first in a pair as second, so a still-falling op time does
            # not bias the ratio; and every op of the traced run, traced or
            # not, is followed by the same candidate count.
            tracer.active = trace and i % 4 in (0, 3)
            _one_op(wl, ctx, tally, timed=True, candidates=cands if trace else None)
            _phase(f"timed op {i}: " + _walls(tally))
        tracer.active = False
        ctx.op = None
        probe_end = io_probe(spark, scratch)
        rss = _jvm_peak_rss_mb(spark) if trace else 0.0
        leaked = _leaked_dirs(scratch, spark)
    finally:
        _stop(spark)

    n = len(tally.write_s)
    summary = {
        "ops_timed": n,
        "ops_warmup": wl.warmup,
        "error_rate": tally.failed / tally.attempted,
        "errors": dict(tally.errors),
        "io_probe_start_s": probe_start,
        "io_probe_end_s": probe_end,
    }
    if not trace:
        recall, precision = wl.quality()
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (statistics.median(tally.write_s), "s"),
            "read_p50_s": (statistics.median(tally.read_s), "s"),
            "rows_per_s": (statistics.median(tally.rates), "rows/s"),
            "write_amp": (tally.new_bytes / max(1, tally.changed_bytes), "ratio"),
            "recall": (recall, "ratio"),
            "precision": (precision, "ratio"),
            "read_recall": (wl.read_recall(), "ratio"),
            "ok_rate": (1 - tally.failed / tally.attempted, "ratio"),
        }
    else:
        layers = span_metrics(tracer.spans, events)
        metrics = {
            f"{span}.{q}": (layers[span][q], unit)
            for span in SPANS
            for q, (unit, _better) in QUANTITIES.items()
        }
        traced = [w for t, w in tally.op_s if t]
        plain = [w for t, w in tally.op_s if not t]
        merge_in = layers["pipelines.upsert_sync"]["input_records"]
        probe_in = layers["ivf_store.ivf_store_topk"]["input_records"]
        metrics |= {
            "merge.rows_scanned_per_changed_row": (
                merge_in / wl.changed_rows if merge_in else 0.0, "ratio"),
            "dedup.candidates_per_planted_pair": (
                statistics.median(cands) if cands else 0.0, "ratio"),
            "ivf_store.rows_scanned_per_result": (
                probe_in / (wl.reads * wl.queries * wl.k) if probe_in else 0.0, "ratio"),
            "jvm.peak_rss_mb": (rss, "MB"),
            "box.io_probe_s": (max(probe_start, probe_end), "s"),
            "scratch.leaked_tmp_dirs": (leaked, "count"),
            "trace.overhead_ratio": (statistics.median(traced) / statistics.median(plain), "ratio"),
        }
    return {"summary": summary, "metrics": metrics, "tally": tally}


def main(argv=None) -> int:
    # a terminated run still stops Spark and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, HERE)
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "python_openetl_spark", "__init__.py")):
        print(f"perfbench: no python_openetl_spark package in {ROOT}", file=sys.stderr)
        return 2
    scratch = os.path.join(ROOT, ".perfbench_scratch", f"{args.workload}-{os.getpid()}")
    try:
        out = run(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass  # another run still uses it
    tally, metrics = out["tally"], out["metrics"]
    for k, v in out["summary"].items():
        print(f"# {k}: {v}")
    for name, (value, unit) in metrics.items():
        print(f"{name:48s} {value:>16.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": tally.failed == 0,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
