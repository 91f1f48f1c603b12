"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload ingest_msgpack --seed 1 \
        --seconds 10 --trace 0

Run it from the root of a checkout of the repository.  ``--trace 0``
prints the end-to-end metrics; ``--trace 1`` runs the traced variant and
prints the per-layer metrics.  The last line is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it holds run details (sample counts, failure ratio, pass times).

Exit status: 0 when every output check passed, 1 when an output check
failed or the run broke, 2 when the checkout lacks the package.
Everything the run writes goes under ``.perfbench_work/`` in the
checkout and is removed at the end."""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "fluent_bit_clp_spark"
CPUS = 4
# The inputs are a few MB; a 2 GB heap leaves the 15 GB host room.
JVM_HEAP = "2g"


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(work: str, trace: bool):
    """One local[4] session whose scratch files all stay under ``work``."""
    from fluent_bit_clp_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # the Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = JVM_HEAP
    # no hsperfdata files under /tmp from the launcher or Spark's JVM
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        # a fixed-size heap: GC heap resizing would otherwise move the
        # JVM's resident memory by hundreds of MB from run to run
        "spark.driver.extraJavaOptions": f"-Xms{JVM_HEAP}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(work, "eventlog")
        os.makedirs(events, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark(app_name="perfbench", cpus=CPUS, extra_conf=conf)


def cpu_steal_s() -> float:
    """Time the hypervisor gave this machine's CPUs to others (all CPUs,
    since boot); a rise during a run means the host was contended."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until every
    process the session started (JVM, Python workers) has ended."""
    from pyspark import SparkContext

    from perfbench.proctree import tree_pids

    descendants = tree_pids(os.getpid())[1:]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and any(map(_alive, descendants)):
            time.sleep(0.1)
        for pid in filter(_alive, descendants):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "plans", "pipeline.py")):
        print(
            f"perfbench: no {PACKAGE} package under {ROOT}; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path[0] = ROOT  # import perfbench and the package from the checkout

    from perfbench import workloads
    from perfbench.eventlog import EventLog
    from perfbench.proctree import PeakRss
    from perfbench.stats import check_name, check_unit, highest_supported_percentile

    if args.workload not in workloads.WORKLOADS:
        print(
            f"perfbench: unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads.WORKLOADS)}",
            file=sys.stderr,
        )
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace = bool(args.trace)
    steal0 = cpu_steal_s()
    spark = None
    try:
        with PeakRss() as rss:
            spark = start_spark(work, trace)
            bench = workloads.Bench(
                spark, work, args.seed, args.seconds, trace, T_START, rss
            )
            outcome = workloads.WORKLOADS[args.workload](bench)
        stop_spark(spark)
        spark = None
        if trace:
            metrics = dict.fromkeys(workloads.LAYER_METRICS, 0.0)
            metrics.update(outcome.layers(EventLog.load(os.path.join(work, "eventlog"))))
            units = workloads.LAYER_METRICS
        else:
            metrics = {**outcome.metrics, "setup_s": outcome.setup_s}
            units = workloads.E2E_METRICS
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass

    attempted = len(outcome.ops)
    failed = sum(op.bad for op in outcome.ops)
    correct = attempted > 0 and failed == 0
    latencies = [op.wall_s * 1000 for op in outcome.ops if op.timed and not op.bad]
    tail = highest_supported_percentile(latencies)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "load": f"closed loop, 1 client, local[{CPUS}]",
        "failed_ratio": failed / attempted if attempted else 1.0,
        "cpu_steal_s": cpu_steal_s() - steal0,
        "op_samples": len(latencies),
        "op_tail_ms": (
            {"percentile": tail[0], "value": tail[1], "samples": tail[2]}
            if tail
            else None
        ),
        **outcome.detail,
    }
    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    check_name(name): {"value": metrics[name], "unit": check_unit(unit)}
                    for name, unit in units.items()
                },
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
