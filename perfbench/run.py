"""Benchmark harness: lakehouse freshness, curation throughput and
serving latency, with per-layer Spark job counters.

Run from the repository root:

    python3 perfbench/run.py --workload lakehouse --seed 1 --seconds 20 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` alternates traced and untraced operations and reports the
per-layer metrics named in BENCHMARK.json, plus the tracing overhead.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. A readable report
with every figure by name and unit, and the host record, comes before
it. Scratch data lives under ``perfbench/_work/`` and is removed when
the run ends; span files and result records go to
``perfbench/_results/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SIZES = {
    "full": {
        "lakehouse": {"fires_per_batch": 2000, "warmup": 2},
        "serving": {"docs": 1000, "vecs": 1200, "warmup": 1},
    },
    "tiny": {
        "lakehouse": {"fires_per_batch": 200, "warmup": 1},
        "serving": {"docs": 200, "vecs": 400, "warmup": 0},
    },
}


def _fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def preflight() -> dict:
    """The benchmark drives the engine in the checkout it sits in;
    without the engine there is nothing to measure."""
    for rel in ("eco_pulse_lakehouse_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            _fail(f"{rel} not found under {ROOT}; run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def host_env(work: str) -> tuple[int, int]:
    """Pin cores, Spark driver memory and every scratch path inside ``work``."""
    cores = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_DRIVER_MEM", f"{min(2048, ram_mb // 4)}m")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the launcher's too: temp files inside ``work``, and no
    # hsperfdata file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return cores, ram_mb


def become_subreaper() -> None:
    """Make orphaned descendants (the Python workers the JVM starts)
    children of this process, so ``stop_processes`` can wait for them
    instead of leaving them to init. A SIGTERM unwinds like an error,
    so the clean-up in ``main`` runs on that path too."""
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == me:
                        out.append(int(d))
            except (OSError, ValueError, IndexError):
                pass
    return out


def stop_processes(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end its JVM and wait until every process this run
    started has exited and been reaped. The JVM exits when its stdin
    closes; anything still running at ``timeout`` is killed."""
    from pyspark import SparkContext

    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # finish the clean-up
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if spark is not None:
            spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + timeout
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break  # no children left
            if pid:
                continue
            if time.monotonic() > deadline:
                for child in _children():
                    try:
                        os.kill(child, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            time.sleep(0.05)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def per_layer(tracer, wl, leaked: int, rss_mb: float) -> dict[str, float]:
    """Every per-layer figure the run produced, by metric name."""
    out: dict[str, float] = {"process.peak_rss_mb": rss_mb}
    for span, counters in tracer.per_span().items():
        for k, v in counters.items():
            out[f"{span}.{k}"] = v
    out["leaked_rdds"] = leaked

    out.update(wl.layers([s for s in tracer.spans if s.phase == "timed"],
                         tracer.streaming_batches()))

    # traced operations are the even ones (see the loop in main)
    t = [o["ms"] for i, o in enumerate(wl.ops) if "ms" in o and i % 2 == 0]
    u = [o["ms"] for i, o in enumerate(wl.ops) if "ms" in o and i % 2 == 1]
    if t and u:
        out["trace.overhead_share"] = statistics.median(t) / statistics.median(u) - 1
    return out


def layer_values(wanted: list[str], layers: dict[str, float],
                 owns) -> tuple[dict[str, float], list[str]]:
    """The per-layer metrics to report, and the names of those the
    workload owns (``owns(name)``) but did not produce. Metrics of the
    other workload's layers read 0."""
    missing = [n for n in wanted if n not in layers and owns(n)]
    return {n: layers.get(n, 0.0) for n in wanted}, missing


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(SIZES["full"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    args = ap.parse_args(argv)
    bench = preflight()
    why = {w["name"]: w["why"] for w in bench["workloads"]}

    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    results = os.path.join(HERE, "_results")
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    become_subreaper()
    spark = None
    try:
        cores, ram_mb = host_env(work)
        sys.path[:0] = [ROOT, HERE]
        import workloads
        from eco_pulse_lakehouse_spark.session import get_session
        from spans import Tracer

        t0 = time.perf_counter()
        spark = get_session(
            app_name=f"perfbench-{args.workload}",
            extra_conf={
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        t1 = time.perf_counter()
        tracer = Tracer(spark, cores, enabled=bool(args.trace))
        tracer.record("session.get_session", "setup", t0, t1)

        wl = workloads.WORKLOADS[args.workload](
            spark, tracer, work, args.seed, SIZES[args.size][args.workload])
        wl.setup()
        setup_s = time.perf_counter() - T_PROCESS
        pinned_before = workloads.persistent_rdds(spark) if args.trace else set()

        deadline = time.perf_counter() + args.seconds
        errors = set()
        while True:
            i = len(wl.ops)
            tracer.active = i % 2 == 0
            tracer.op = i
            try:
                wl.ops.append(wl.op(i, "timed"))
            except Exception:
                traceback.print_exc()
                wl.ops.append({})
                errors.add(i)
            # at least one traced and one untraced operation
            if time.perf_counter() >= deadline and len(wl.ops) >= 2:
                break
        tracer.active = False
        tracer.op = None
        leaked = (len(workloads.persistent_rdds(spark) - pinned_before)
                  if args.trace else 0)
        rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(
            spark.sparkContext._jvm.ProcessHandle.current().pid())

        try:
            wrong = wl.check()
        except Exception:
            traceback.print_exc()
            wrong = set(range(-wl.setup_ops, len(wl.ops)))
        failed = errors | wrong
        attempted = len(wl.ops) + wl.setup_ops

        tracer.resolve()
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        if args.trace:
            tracer.dump(os.path.join(results, f"spans-{tag}.jsonl"))

        good = [o for i, o in enumerate(wl.ops) if i not in failed]
        wall_s = sum(o.get("wall_ms", o.get("ms", 0.0)) for o in wl.ops) / 1000.0
        latencies = [o["ms"] for o in wl.ops if "ms" in o]
        figures = {
            "setup_s": (setup_s, "s"),
            # 0 only when no operation finished, and then the run is failed
            "latency_ms_p50": (
                statistics.median(latencies) if latencies else 0.0, "ms"),
            "items_per_s": (
                sum(o["items"] for o in good) / wall_s if wall_s else 0.0, "1/s"),
            "ops_failed_share": (len(failed) / attempted, "ratio"),
        }
        if all("ms" in o for o in wl.ops):
            figures.update(wl.report())
        figures["peak_rss_mb"] = (rss_mb, "MB")
        layers = per_layer(tracer, wl, leaked, rss_mb) if args.trace else {}

        host = {
            "nproc": cores,
            "ram_mb": ram_mb,
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "driver_mem": os.environ["SPARK_DRIVER_MEM"],
            "size": args.size,
            "input_bytes": wl.input_bytes,
        }
        print(f"# host {json.dumps(host)}")
        print(f"# {args.workload}: {attempted} ops in {args.seconds:g} s, "
              f"{len(failed)} failed; why: {why[args.workload]}")
        for name, (value, unit) in figures.items():
            print(f"#   {name} = {value:.6g} {unit}")
        for name in sorted(layers):
            print(f"#   {name} = {layers[name]:.6g}")

        missing = []
        if args.trace:
            wanted = bench["per_layer"]
            values, missing = layer_values([m["name"] for m in wanted],
                                           layers, wl.owns)
            if missing:
                print(f"perfbench: {args.workload} emitted no value for "
                      f"{', '.join(missing)}", file=sys.stderr)
        else:
            wanted = bench["end_to_end"]
            values = {m["name"]: figures[m["name"]][0] for m in wanted}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in wanted}
        result = {
            "correct": not failed and not missing,
            "attempted": attempted,
            "failed": len(failed),
            "metrics": metrics,
        }
        with open(os.path.join(results, f"result-{tag}.json"), "w") as fh:
            json.dump({"host": host, "figures": figures, "layers": layers,
                       "ops": wl.ops, **result}, fh, indent=1, default=str)
        print(json.dumps(result))
        return 0
    finally:
        stop_processes(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
