"""Benchmark of the fairy_core_spark engine on ``local[4]``.

Run from the root of a checkout:

    python3 perfbench/run.py --workload images --seed 3 --seconds 30 --trace 0

One process, one Spark driver. A run:

1. sets up the SparkSession SETUPS times (start, then one Python worker per
   core importing the workload's engine modules) and reports the median
   as ``setup_s``;
2. writes the workload's inputs and checks its outputs against
   ``pins.json``, then runs the workload's warm-up rounds (all untimed);
3. runs ``--seconds`` worth of whole rounds of the workload's three
   operations, warm-up rounds included (the count is fixed by the
   workload's nominal round length; see workloads.py), and reports the
   median of each over the timed rounds.

The driver JVM runs with the C1 JIT only (see JIT_OPTS): the C2 tier is
faster once warm, but takes longer to warm up than a run lasts, and runs
that stop at different points of its warm-up disagree by up to 30%.

With ``--trace 1`` the rounds are traced, and the run reports per-layer
metrics instead: spans around the calls into each layer, and Spark's SQL
metrics of the executed plans. It also reports its own end-to-end medians
as ``trace.call_s``, ``trace.steps_s`` and ``trace.rerun_s``; the tracing
overhead is each of these minus the same metric of an untraced run with
the same seed. Spans are written to ``.perfbench_out/`` at the end.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` (timed operations, and those whose output did not match) and
``metrics``. A run with a failed operation prints the error to stderr and
exits with code 1. Spark's own output goes to ``.perfbench_out/*.log``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")

CORES = 4
MASTER = f"local[{CORES}]"
DRIVER_MEMORY = "3g"
SHUFFLE_PARTITIONS = 2 * CORES
SETUPS = 3
# C1 JIT only. With the C2 tier the JVM keeps speeding up for about two
# minutes of warm runs (report 6.3 s -> 4.4 s, north_pipeline 2.4 s ->
# 1.7 s), longer than a run; where a run lands on that curve depends on
# how much CPU the compiler threads got, and that is most of the spread
# between runs. C1 compiles within the first round and stays flat.
JIT_OPTS = "-XX:TieredStopAtLevel=1"

END_TO_END = (("call_s", "s"), ("steps_s", "s"), ("rerun_s", "s"), ("setup_s", "s"))


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _prepare_env(work: str) -> None:
    """Environment every Spark process of the run inherits. Python workers
    find the engine only through PYTHONPATH; temp and shuffle files stay
    inside the run's own directory."""
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYARROW_IGNORE_TIMEZONE"] = "1"
    # no hsperfdata file in /tmp from the launcher JVM of spark-submit
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    for d in ("spark-local", "tmp", "sock"):
        os.makedirs(os.path.join(work, d), exist_ok=True)


def _start_spark(work: str, modules: tuple[str, ...]):
    """SparkSession start plus warm-up: one Python worker per core, each
    importing ``modules``, then one JVM aggregate."""
    from fairy_core_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=MASTER,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file in /tmp: the run writes only inside the checkout
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData {JIT_OPTS} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            # relative to the checkout root, the working directory of every
            # Spark process: a socket path must stay under 108 bytes
            "spark.python.unix.domain.socket.dir": os.path.relpath(os.path.join(work, "sock"), ROOT),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    def warm(it, _modules=modules):
        import importlib

        for m in _modules:
            importlib.import_module(m)
        yield from it

    spark.range(0, 4 * CORES, 1, CORES).mapInPandas(warm, "id long").count()
    spark.range(0, 100_000, 1, CORES).selectExpr("sum(id) as s").first()
    return spark


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(p))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _shutdown_spark(spark) -> None:
    """Stop Spark, the JVM and every Python worker it forked, and wait
    until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        if _alive(pid):
            os.kill(pid, signal.SIGKILL)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat;
    (0, 0) where the file is missing."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks[:8])


def _host(spark) -> dict:
    import pyarrow

    return {
        "nproc": os.cpu_count(),
        "master": MASTER,
        "driver_memory": DRIVER_MEMORY,
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
    }


def run(args, work: str, pins: dict) -> dict:
    import workloads
    from spans import Tracer

    cls = workloads.WORKLOADS[args.workload]
    spark = None
    try:
        setups = []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.monotonic()
            spark = _start_spark(work, cls.modules)
            setups.append(time.monotonic() - t0)

        phases = {"setup": sum(setups)}
        wl = cls(spark, args.seed, work, pins)
        t0 = time.monotonic()
        wl.prepare()
        phases["prepare"] = time.monotonic() - t0
        t0 = time.monotonic()
        wl.check()
        phases["check"] = time.monotonic() - t0
        t0 = time.monotonic()
        for _ in range(wl.warmup_rounds):
            wl.run_round(Tracer("", enabled=False))
        phases["warmup"] = time.monotonic() - t0

        tracer = Tracer(f"{args.workload}-seed{args.seed}", enabled=bool(args.trace))
        samples: dict[str, list[float]] = {k: [] for k, _ in END_TO_END if k != "setup_s"}
        round_walls: list[float] = []
        steal0, total0 = _cpu_ticks()
        attempted = failed = 0
        errors: list[str] = []
        # A fixed number of whole rounds, set by --seconds and the
        # workload's nominal round length (the warm-up rounds above count
        # against --seconds), so that every run, on a fast or a slow host
        # and on either commit, measures the same work.
        for _ in range(max(1, int(args.seconds // wl.round_s) - wl.warmup_rounds)):
            t0 = time.monotonic()
            try:
                got = wl.run_round(tracer)
            except Exception as e:  # a failed operation ends the run
                attempted += 1
                failed += 1
                errors.append("".join(traceback.format_exception(e)))
                break
            round_walls.append(time.monotonic() - t0)
            for k, v in got.items():
                samples[k].extend(v)
                attempted += len(v)

        # The share of CPU time the hypervisor gave to other guests while
        # the rounds ran: when it is high, every time of the run is slow.
        steal1, total1 = _cpu_ticks()
        steal_share = (steal1 - steal0) / max(1, total1 - total0)
        medians = {k: statistics.median(v) for k, v in samples.items() if v}
        if args.trace:
            metrics = {}
            for name, unit in workloads.PER_LAYER:
                vals = wl.layers.get(name)
                metrics[name] = {"value": statistics.median(vals) if vals else 0, "unit": unit}
            for k, v in medians.items():
                metrics[f"trace.{k}"] = {"value": v, "unit": "s"}
            tracer.dump(os.path.join(OUT, f"spans-{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = {k: {"value": v, "unit": "s"} for k, v in medians.items()}
            metrics["setup_s"] = {"value": statistics.median(setups), "unit": "s"}
        return {
            "host": _host(spark),
            "inputs": wl.inputs(),
            "setups_s": setups,
            "samples": samples,
            "rounds": len(round_walls),
            "steal_share": steal_share,
            "round_walls_s": round_walls,
            "phases_s": phases,
            "attempted": attempted,
            "failed": failed,
            "errors": errors,
            "metrics": metrics,
        }
    finally:
        _shutdown_spark(spark)


def _summary_lines(workload: str, res: dict) -> list[str]:
    """Human-readable lines: the run's host, inputs, and every metric in
    the names of the layer it measures."""
    m = {k: v["value"] for k, v in res["metrics"].items()}
    lines = [
        "host: " + json.dumps(res["host"], sort_keys=True),
        "inputs: " + json.dumps(res["inputs"], sort_keys=True),
        f"rounds: {res['rounds']}  cpu steal: {res['steal_share']:.1%}  error_rate: {res['failed'] / max(1, res['attempted']):.4f}"
        f" ({res['failed']}/{res['attempted']} operations)",
    ]
    n = {k: len(v) for k, v in res["samples"].items()}
    if "call_s" in m:
        ins = res["inputs"]
        if workload == "images":
            named = [
                ("north_images_per_s", ins["images"] / m["call_s"], "1/s", n["call_s"]),
                ("staged_images_per_s", ins["images"] / m["steps_s"], "1/s", n["steps_s"]),
                ("resume_s", m["rerun_s"], "s", n["rerun_s"]),
            ]
        else:
            named = [
                ("preflight_rows_per_s", ins["report_rows"] / m["call_s"], "1/s", n["call_s"]),
                ("headline_s", m["steps_s"], "s", n["steps_s"]),
                ("headline_warm_s", m["rerun_s"], "s", n["rerun_s"]),
            ]
        named.append(("setup_s", m["setup_s"], "s", SETUPS))
        for name, value, unit, count in named:
            lines.append(f"{name:<24} {value:>14.4f} {unit:<6} median of {count}")
    for name, v in res["metrics"].items():
        lines.append(f"{name:<36} {v['value']:>16.4f} {v['unit']}")
    return lines


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["images", "tables"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "fairy_core_spark", "__init__.py")):
        _fail(f"no fairy_core_spark package next to {HERE}; run from a checkout of the repo")
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    import workloads

    try:
        pins = workloads.load_pins()
    except (OSError, ValueError) as e:
        _fail(f"cannot read the pinned outputs: {e}")

    os.makedirs(OUT, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(OUT, f"work-{tag}-{os.getpid()}")
    os.makedirs(work)
    _prepare_env(work)

    # Spark, its JVM and its Python workers write to fds 1 and 2 until and
    # after the end of the run; only the summary reaches the real stdout.
    out_fd, err_fd = os.dup(1), os.dup(2)
    log_fd = os.open(os.path.join(OUT, f"{tag}.log"), os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 1)
    os.dup2(log_fd, 2)
    try:
        res = run(args, work, pins)
    except Exception as e:
        os.write(err_fd, f"perfbench: {args.workload} failed\n".encode())
        os.write(err_fd, "".join(traceback.format_exception(e)).encode())
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(OUT, f"result-{tag}.json"), "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    for err in res["errors"]:
        os.write(err_fd, f"perfbench: {args.workload}: {err}\n".encode())
    wanted = [k for k, _ in END_TO_END] if not args.trace else [k for k, _ in workloads.PER_LAYER]
    if res["failed"] or any(k not in res["metrics"] for k in wanted):
        return 1
    result = {
        "correct": True,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": res["metrics"],
    }
    text = "\n".join(_summary_lines(args.workload, res)) + "\n" + json.dumps(result) + "\n"
    os.write(out_fd, text.encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
