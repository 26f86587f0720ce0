"""Benchmark for rlr_spark, run from the root of a checkout:

    python3 rlrbench/run.py --workload pipeline_floor --seed 1 --seconds 15 --trace 0

One closed-loop client drives one operation at a time on ``local[<nproc>]``
for ``--seconds`` after set-up and warm-up, checks every operation's output,
and prints one JSON line last: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer ones, as named in BENCHMARK.json. The line before it is the run's
shape (environment, sizes, warm-up curve, per-run totals).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_MEM = "6g"
# The JVM's default initial heap is 1/64 of the machine's RAM, and G1 sizes
# the young generation adaptively from pause times; both made peak RSS swing
# by about 20% from run to run. A fixed initial heap and young generation
# hold it to about 2% (README.md, "Pinned environment").
JVM_HEAP_OPTS = "-Xms1g -Xmn512m"


def _process_start() -> float:
    """Epoch time this process started, from /proc (clock-tick resolution)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        boot = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return boot + ticks / os.sysconf("SC_CLK_TCK")


T_PROCESS = _process_start()


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
    return kb / 1024


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _pin_environment(run_dir: str) -> None:
    """Everything the run writes stays under ``run_dir``; driver heap is fixed."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["RLR_DRIVER_MEM"] = DRIVER_MEM
    os.environ["RLR_LOCAL_DIR"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = None


def _spark_conf(run_dir: str, traced: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} {JVM_HEAP_OPTS}"
        ),
    }
    if traced:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM (its Python workers exit
    with it) and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _measure(wl, seconds: float) -> list[dict]:
    """Closed loop: the next operation starts when the previous one and its
    check are done, until ``seconds`` of operations have started."""
    records = []
    deadline = time.monotonic() + seconds
    while time.monotonic() < deadline:
        rec = {"start": time.time(), "ok": False}
        t0 = time.perf_counter()
        try:
            with wl.tracer.span("op"):
                result = wl.op()
            rec["wall"] = time.perf_counter() - t0
            rec["end"] = time.time()
            rec.update(wl.check(result))
            rec["ok"] = True
        except Exception as e:  # the run goes on; the operation counts as failed
            rec.setdefault("wall", time.perf_counter() - t0)
            rec.setdefault("end", time.time())
            rec["error"] = repr(e)
            traceback.print_exc()
        records.append(rec)
    return records


def _overhead_share(workload: str, op_p50_ms: float, traced: bool) -> float | None:
    """Record an untraced run's op_p50_ms; for a traced run, return its
    op_p50_ms against the median of the recorded untraced ones, minus one."""
    path = os.path.join(WORK, "untraced_op_p50_ms.json")
    try:
        with open(path) as f:
            history = json.load(f)
    except (OSError, ValueError):
        history = {}
    past = history.get(workload, [])
    if traced:
        return op_p50_ms / statistics.median(past) - 1 if past else None
    history[workload] = (past + [op_p50_ms])[-25:]
    with open(path + ".tmp", "w") as f:
        json.dump(history, f)
    os.replace(path + ".tmp", path)
    return None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    traced = bool(args.trace)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if traced else "end_to_end"]

    # the program under test lives at the checkout root
    sys.path.insert(0, ROOT)
    from rlr_spark.session import get_spark

    from tracing import EventLog, Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK)
    _pin_environment(run_dir)
    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(traced)
    spark = None
    try:
        t0 = time.time()
        spark = get_spark(
            app_name=f"rlrbench-{args.workload}",
            master=f"local[{cores}]",
            extra_conf=_spark_conf(run_dir, traced),
        )
        t1 = time.time()
        wl = WORKLOADS[args.workload](spark, run_dir, args.seed, tracer, cores)
        wl.prepare()
        t2 = time.time()
        wl.open()
        t3 = time.time()
        warmup = []
        for _ in range(wl.warmup_ops):
            w0 = time.perf_counter()
            result = wl.op()
            warmup.append(time.perf_counter() - w0)
            wl.check(result)
        t_first = time.time()
        steal0, total0 = _cpu_ticks()
        records = _measure(wl, args.seconds)
        steal1, total1 = _cpu_ticks()
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = {"python": _vm_hwm_mb("self"), "jvm": _vm_hwm_mb(jvm_pid)}
        peak_rss_mb = sum(rss_mb.values())
        _stop_spark(spark)
        spark = None

        ok = [r for r in records if r["ok"]]
        failed = len(records) - len(ok)
        op_p50_ms = statistics.median(r["wall"] for r in ok) * 1000 if ok else 0.0
        values = {
            "setup_s": t_first - T_PROCESS,
            "op_p50_ms": op_p50_ms,
            "items_per_s": len(ok) * wl.items_per_op / sum(r["wall"] for r in records),
            "peak_rss_mb": peak_rss_mb,
        }
        overhead = _overhead_share(args.workload, op_p50_ms, traced) if ok else None
        if traced:
            # a layer this workload does not run did no work: it reads 0
            values = dict.fromkeys((m["name"] for m in declared), 0.0)
            layers = {
                "setup.session_s": t1 - t0,
                "setup.inputs_s": t2 - t1,
                "setup.warmup_s": t_first - t3,
                "trace.overhead_share": overhead or 0.0,
            }
            if ok:
                layers.update(wl.layer_metrics(ok, EventLog(os.path.join(run_dir, "eventlog"))))
            unknown = set(layers) - set(values)
            if unknown:
                raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
            values.update(layers)
            tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
        shape = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "master": f"local[{cores}]",
            "driver_mem": DRIVER_MEM,
            "jvm_heap_opts": JVM_HEAP_OPTS,
            "ops": len(records),
            "warmup_ms": [w * 1000 for w in warmup],
            "op_ms": [r["wall"] * 1000 for r in records],
            "overhead_baseline": overhead is not None,
            "peak_rss_mb": rss_mb,
            "steal_share": (steal1 - steal0) / max(total1 - total0, 1),
            **wl.shape(),
        }
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in declared
    }
    print("shape " + json.dumps(shape))
    print(json.dumps({
        "correct": failed == 0 and bool(ok),
        "attempted": len(records),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
