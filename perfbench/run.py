#!/usr/bin/env python3
"""Build-then-validate benchmark.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 5 --trace 0

Runs one workload as a single closed-loop client on ``local[nproc]`` with
``nproc`` shuffle partitions, from the root of a source checkout. Set-up is
timed as ``setup_s``: session start, the seeded input generation and the
warm-up ops. Then ops run back to back for ``--seconds`` and each op's
output is checked against an analytic oracle.
``--trace 1`` adds a second, traced phase of the same length and reports
per-layer span counters instead of the end-to-end metrics. The last line of
stdout is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "items_per_s": "1/s",
}
# workload-specific name of items_per_s, with its scale factor
THROUGHPUT = {
    "kg_build": ("pages_per_s", 1),
    "plugin_validate": ("triples_per_s", 1),
}
# Spans reported as per-layer metrics, with their per-op fields besides
# wall_s / jobs / tasks / shuffle_write_mb.
SPANS = {
    "functions.relations": ["rows"],
    "pipeline.unique_relations": ["rows"],
    "connected_components.canonicalize": ["rows"],
    "pipeline.triples": ["rows"],
    "shacl.validate": ["results"],
    "shacl.reports": ["rows"],
    "sinks.write_triples": [],
    "incremental.state": ["mentions"],
    "io.read": ["triples"],
    "execute.catalog": [],
    "graph_catalog.load": [],
    "shacl.conforms": [],
    "entities": ["rows"],
    "graph_ops.report": ["triples"],
    "io.write": ["mb"],
}
UNITS = {"wall_s": "s", "jobs": "count", "tasks": "count", "shuffle_write_mb": "MB",
         "rows": "count", "mentions": "count", "results": "count", "triples": "count", "mb": "MB"}
PER_LAYER = {
    **{f"{s}.{c}": UNITS[c] for s, extra in SPANS.items()
       for c in ("wall_s", "jobs", "tasks", "shuffle_write_mb", *extra)},
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


def _env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside the run's
    work directory, and size the driver for a shared machine."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-XX:-UsePerfData -Djava.io.tmpdir={tmp}' pyspark-shell"
    )


def _proc_tree(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def _peak_rss_mb(jvm_pid: int) -> float:
    """Sum of peak resident set sizes (VmHWM) of the driver JVM and every
    process under it: the Python daemon and its UDF workers."""
    kb = 0
    for pid in _proc_tree(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                kb += next(int(l.split()[1]) for l in fh if l.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return kb / 1024


def _cpu_stat() -> tuple[int, int]:
    """(steal, total) jiffies: hypervisor steal is invisible to loadavg."""
    with open("/proc/stat") as fh:
        v = list(map(int, fh.readline().split()[1:]))
    return (v[7] if len(v) > 7 else 0), sum(v)


def _start_session(nproc: int):
    from cmem_plugin_pyshacl_spark.session import get_spark

    return get_spark(app_name="perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc)


def _stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for the JVM and its
    Python workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = _proc_tree(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in tree):
        time.sleep(0.1)


def _loop(wl, tracer, seconds: float, first: int):
    """Closed loop: start the next op when the previous one (and its
    untimed check) finished, as long as it is expected to end within
    ``seconds`` by the median op so far. Ops take seconds each, so a plain
    "start while time is left" rule would make the op count, and with it
    the median, flip between runs on which side of the deadline an op
    happened to start."""
    if first >= wl.capacity:
        raise RuntimeError(f"{wl.name}: generated inputs exhausted before op {first}")
    times, errors, i = [], [], first
    start = time.perf_counter()
    while i < wl.capacity and (
        not times or time.perf_counter() - start + statistics.median(times) <= seconds
    ):
        tracer.op = i
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                out = wl.op(i)
            dt = time.perf_counter() - t0
            errs = wl.check(i, out)
        except Exception as e:  # a failed op counts against failed_ratio
            dt = time.perf_counter() - t0
            errs = [f"{wl.name} op {i}: {type(e).__name__}: {e}"[:2000]]
        tracer.end_op()
        times.append(dt)
        errors.append(errs)
        i += 1
    return times, errors, i


def bench(workload: str, seed: int, seconds: float, trace: bool, work: Path, scale: dict) -> dict:
    import workloads
    from tracing import Tracer

    nproc = len(os.sched_getaffinity(0))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_session(nproc)
        start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl = workloads.WORKLOADS[workload](
            spark, seed, scale, str(work / "inputs"), Tracer(spark, False)
        )
        wl.generate()
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        try:
            warm_errors = wl.warm_up()
        except Exception as e:  # reported as a defect; the measured ops still run
            warm_errors = [f"{workload} warm-up: {type(e).__name__}: {e}"[:2000]]
        warm_s = time.perf_counter() - t0

        load0 = os.getloadavg()[0]
        steal0, tot0 = _cpu_stat()
        times, errors, nxt = _loop(wl, wl.tracer, seconds, wl.warm_ops)
        traced_times = []
        if trace:
            wl.tracer = tracer = Tracer(spark, True)
            with tracer.patched(wl.patches(tracer)):
                traced_times, traced_errors, _ = _loop(wl, tracer, seconds, nxt)
            errors += traced_errors
        steal1, tot1 = _cpu_stat()
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        rss = _peak_rss_mb(jvm.pid) if jvm else 0.0
    finally:
        if spark is not None:
            _stop_session(spark)

    res = {
        "workload": workload,
        "seed": seed,
        "nproc": nproc,
        "ops": len(times),
        "op_s": times,
        "errors": warm_errors + [e for errs in errors for e in errs],
        "failed": sum(bool(e) for e in errors),
        "attempted": len(errors),
        "session_start_s": start_s,
        "input_generation_s": gen_s,
        "warm_up_s": warm_s,
        "metrics": {
            "setup_s": start_s + gen_s + warm_s,
            "op_p50_s": statistics.median(times),
            "items_per_s": wl.items_per_op / statistics.median(times),
        },
        "peak_rss_mb": rss,
        "context": {
            "loadavg_1m": load0,
            "steal_pct": 100.0 * (steal1 - steal0) / max(1, tot1 - tot0),
        },
    }
    if trace:
        layer = tracer.medians()
        layer["session.start_s"] = start_s
        layer["session.peak_rss_mb"] = rss
        layer["trace.overhead_s"] = statistics.median(traced_times) - statistics.median(times)
        res["traced_op_s"] = traced_times
        res["per_layer"] = {k: layer.get(k, 0) for k in PER_LAYER}
        trace_dir = HERE / ".traces"
        trace_dir.mkdir(exist_ok=True)
        tracer.dump(str(trace_dir / f"{workload}-seed{seed}.json"), {**res, "all_spans": layer})
    return res


def summary_line(res: dict) -> str:
    name, factor = THROUGHPUT[res["workload"]]
    m = res["metrics"]
    line = (
        f"perfbench {res['workload']} seed={res['seed']} local[{res['nproc']}]: "
        f"setup_s={m['setup_s']:.3f} s, op_p50_s={m['op_p50_s']:.3f} s over {res['ops']} ops, "
        f"{name}={m['items_per_s'] * factor:.3f}, peak_rss_mb={res['peak_rss_mb']:.1f} MB, "
        f"failed_ratio={res['failed']}/{res['attempted']} | context: "
        f"loadavg_1m={res['context']['loadavg_1m']:.2f} steal_pct={res['context']['steal_pct']:.1f}"
    )
    if "per_layer" in res:
        line += (
            f" | tracing overhead: traced op_p50_s - untraced op_p50_s = "
            f"{res['per_layer']['trace.overhead_s']:.3f} s"
        )
    return line


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(THROUGHPUT))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-check scale")
    args = ap.parse_args(argv)

    if not (ROOT / "cmem_plugin_pyshacl_spark" / "__init__.py").is_file():
        print(f"perfbench: no cmem_plugin_pyshacl_spark package under {ROOT}; "
              "run from the root of a source checkout", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _env(work)
    sys.path[:0] = [str(ROOT), str(HERE)]
    from workloads import SCALES

    scale = SCALES["tiny" if args.tiny else args.workload]
    try:
        res = bench(args.workload, args.seed, args.seconds, bool(args.trace), work, scale)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for e in res["errors"]:
        print(f"DEFECT {e}")
    print(
        f"session start {res['session_start_s']:.3f} s, "
        f"input generation {res['input_generation_s']:.3f} s, "
        f"warm-up {res['warm_up_s']:.3f} s, ops {[round(t, 3) for t in res['op_s']]} s"
        + (f", traced ops {[round(t, 3) for t in res['traced_op_s']]} s" if args.trace else "")
    )
    print(summary_line(res))
    if args.trace:
        metrics = {k: {"value": res["per_layer"][k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": res["metrics"][k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": not res["errors"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
