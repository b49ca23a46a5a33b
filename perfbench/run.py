#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest_flow_control --seed 1 --seconds 8 --trace 0

Run from the repository root. Prints the run conditions, one line per
metric (``metric <name> <value> <unit> n=<samples>``) and, as the last
line, one JSON object ``{correct, attempted, failed, metrics}``.

--trace 0 reports the end-to-end metrics in the JSON line. Peak memory is a
printed line only: the JVM heap's high-water mark follows the garbage
collector's timing and spread 0.07-0.29 (IQR / median) over sets of ten
runs, too wide to hold a bound.

--trace 1 turns Spark's event log on, measures for twice --seconds with
spans on in every other loop iteration (and every other set-up), and
reports the per-layer metrics of the traced iterations plus the tracing
overhead, traced minus untraced, of the timing metrics. The event log is on
for the whole traced process, so its own cost is on both sides.

Exit status: 0 when every output check passes, 1 when one fails, 2 when the
program is not in the checkout.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 3

# the end-to-end metrics of the JSON line and their units, as in BENCHMARK.json
END_TO_END = {"rows_per_s": "rows/s", "setup_s": "s"}
SPARK_LAYER = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.task_skew": "ratio",
    "spark.driver_gap_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def start_spark(workdir: str, cpus: int, eventlog_dir: str | None):
    # keep Spark's and the JVM's scratch files inside the run's directory
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    from clickhousedatamocker_spark import get_spark

    extra = {"spark.local.dir": tmp, "spark.sql.warehouse.dir": os.path.join(workdir, "spark-warehouse")}
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus, extra_conf=extra)


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_workload(args, workdir: str, traced: bool) -> dict:
    import duckdb

    from workloads import WORKLOADS

    cpus = nproc()
    eventlog_dir = os.path.join(workdir, "eventlog") if traced else None
    spark = start_spark(workdir, cpus, eventlog_dir)
    out: dict = {"lines": [], "failures": []}
    try:
        conditions = {
            "nproc": cpus,
            "loadavg": " ".join(f"{x:.2f}" for x in os.getloadavg()),
            "pyspark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", "unset"),
            "master": f"local[{cpus}]",
        }
        wl = WORKLOADS[args.workload](spark, workdir, args.seed)
        if traced:
            from spans import Tracer

            wl.tracer = Tracer(spark)
            wl.trace_points(wl.tracer)
        # a traced run alternates traced and untraced set-ups and iterations,
        # so the tracing overhead is traced minus untraced within one process
        setup_s = []
        for rep in range(SETUP_REPS):
            wl.tracer.enabled = traced and rep % 2 == 1
            t0 = time.perf_counter()
            wl.setup(rep)
            setup_s.append(time.perf_counter() - t0)
        wl.tracer.enabled = False
        wl.warmup()
        wl.reset_samples()
        cold_start_s = time.time() - PROCESS_START

        # whole blocks of iterations until the window has passed, and at
        # least the workload's min_blocks. A traced run traces every other
        # iteration over twice the window and at least two blocks of an odd
        # number of iterations, so each side sees every position in a block.
        iters = []  # (traced, seconds, rows)
        window = args.seconds * (2 if traced else 1)
        min_iters = max(wl.min_blocks, 2 if traced else 1) * wl.block_iterations
        w0 = time.time()
        while time.time() - w0 < window or len(iters) < min_iters:
            for _ in range(wl.block_iterations):
                wl.tracer.enabled = traced and len(iters) % 2 == 0
                rows0 = wl.rows
                t0 = time.perf_counter()
                wl.iteration()
                iters.append((wl.tracer.enabled, time.perf_counter() - t0, wl.rows - rows0))
        w1 = time.time()
        wl.tracer.close()
        peak_rss = vm_hwm_mb("self") + vm_hwm_mb(spark.sparkContext._gateway.proc.pid)

        t0 = time.perf_counter()
        con = duckdb.connect()
        try:
            out["failures"] = wl.check(con)
        finally:
            con.close()
        check_s = time.perf_counter() - t0
    finally:
        stop_spark(spark)

    every = summarize(iters, setup_s)
    out["e2e"] = {name: every[name] for name in END_TO_END}
    lines = [
        ("rows_per_s", every["rows_per_s"], f"rows/s ({wl.rows_unit})", every["n"]),
        ("setup_s", every["setup_s"], "s", len(setup_s)),
        ("peak_rss_mb", peak_rss, "MB (driver JVM + Python)", 1),
    ]
    for op, label in wl.op_names.items():
        vals = wl.samples.get(op, [])
        lines.append((label, statistics.median(vals) if vals else float("nan"), "s", len(vals)))
        if len(vals) >= 100:  # at least ten samples beyond p90
            lines.append((label.replace("_p50_", "_p90_"), statistics.quantiles(vals, n=10)[-1], "s", len(vals)))
    lines += [
        ("failed_ops_ratio", wl.failed / max(wl.attempted, 1), "ratio", wl.attempted),
        ("cold_start_s", cold_start_s, "s (process start to first timed operation)", 1),
        ("window_s", w1 - w0, "s", len(iters) // wl.block_iterations),
        ("check_s", check_s, "s (output checks, untimed)", 1),
    ]
    out["lines"] = lines
    out["conditions"] = conditions
    out["attempted"], out["failed"] = wl.attempted, wl.failed
    if traced:
        out["layers"] = layer_metrics(wl, eventlog_dir, w0, w1, args)
        # set-ups 1, 3, ... were traced; 0 is the cold one, so it is left out
        on = summarize([it for it in iters if it[0]], setup_s[1::2])
        off = summarize([it for it in iters if not it[0]], setup_s[2::2])
        out["overhead"] = {
            k: (on[k], off[k], *((1, 1) if k == "setup_s" else (on["n"], off["n"])))
            for k in END_TO_END
        }
    return out


def summarize(iters: list[tuple], setup_s: list[float]) -> dict:
    """End-to-end timings over some loop iterations ``(traced, seconds,
    rows)`` and set-up times."""
    seconds = sum(it[1] for it in iters)
    return {
        "rows_per_s": sum(it[2] for it in iters) / seconds if seconds else float("nan"),
        "setup_s": statistics.median(setup_s) if setup_s else float("nan"),
        "n": len(iters),
    }


def layer_metrics(wl, eventlog_dir: str, w0: float, w1: float, args) -> dict:
    from spans import Ledger, find_event_log, read_event_log, spark_totals
    from workloads import WORKLOADS

    # the traced iterations of the window; a traced set-up is not part of them
    spans = [s for s in wl.tracer.spans if w0 <= s["start"] <= w1]
    led = Ledger(spans, read_event_log(find_event_log(eventlog_dir)))
    loop_spans = [s for s in spans if s["name"].startswith("loop.")]
    totals = spark_totals([j for s in loop_spans for j in led.jobs_under(s)])
    values = {f"spark.{k}": totals[k] for k in ("jobs", "stages", "tasks", "executor_run_s",
                                                  "shuffle_write_bytes", "shuffle_read_bytes", "task_skew")}
    values["spark.driver_gap_s"] = sum(led.driver_gap_s(s) for s in loop_spans)
    values.update(wl.layer_metrics(led))
    # every workload reports every layer; a layer it never calls reads 0
    for other in WORKLOADS.values():
        for name in other.LAYER_UNITS:
            values.setdefault(name, 0)

    by_name: dict[str, dict] = {}
    summed = ("jobs", "stages", "tasks", "executor_run_s", "shuffle_write_bytes", "shuffle_read_bytes")
    for s in spans:
        row = by_name.setdefault(
            s["name"], {"calls": 0, "wall_s": 0.0, "self_s": 0.0, "driver_gap_s": 0.0, "task_skew": 0.0,
                        **dict.fromkeys(summed, 0)}
        )
        own = spark_totals(led.own_jobs.get(s["id"], []))
        row["calls"] += 1
        row["wall_s"] += s["end"] - s["start"]
        row["self_s"] += led.self_s(s)
        row["driver_gap_s"] += led.driver_gap_s(s)
        row["task_skew"] = max(row["task_skew"], own["task_skew"])
        for k in summed:
            row[k] += own[k]
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"spans": spans, "per_name": by_name}, fh)
    return {"values": values, "per_name": by_name, "path": path}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "clickhousedatamocker_spark", "__init__.py")):
        print(f"perfbench: no clickhousedatamocker_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    workdir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    try:
        res = run_workload(args, workdir, traced=bool(args.trace))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    print("conditions " + " ".join(f"{k}={v}" for k, v in res["conditions"].items()))
    for name, value, unit, n in res["lines"]:
        print(f"metric {name} {value:.6g} {unit} n={n}")
    for f in res["failures"]:
        print(f"CHECK FAILED: {f}")
    correct = not res["failures"]
    if args.trace:
        print(f"trace written to {os.path.relpath(res['layers']['path'], ROOT)}")
        for name, row in sorted(res["layers"]["per_name"].items()):
            print("span " + name + " " + " ".join(f"{k}={v:.4g}" for k, v in row.items()))
        metrics = {}
        for name, value in sorted(res["layers"]["values"].items()):
            metrics[name] = {"value": value, "unit": layer_unit(name)}
        for name, (on, off, n_on, n_off) in res["overhead"].items():
            unit = END_TO_END[name]
            metrics[f"overhead.{name}"] = {"value": on - off, "unit": unit}
            print(f"metric overhead.{name} {on - off:.6g} {unit} "
                  f"(traced {on:.6g} n={n_on} - untraced {off:.6g} n={n_off})")
    else:
        metrics = {name: {"value": res["e2e"][name], "unit": unit} for name, unit in END_TO_END.items()}
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0 if correct else 1


def layer_unit(name: str) -> str:
    from workloads import WORKLOADS

    if name in SPARK_LAYER:
        return SPARK_LAYER[name]
    for w in WORKLOADS.values():
        if name in w.LAYER_UNITS:
            return w.LAYER_UNITS[name]
    raise KeyError(name)


if __name__ == "__main__":
    sys.exit(main())
