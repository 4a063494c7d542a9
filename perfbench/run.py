"""spark-dam benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The run generates
its inputs from the seed under ``.perfbench_work/`` in the checkout,
starts a local Spark session on all cores, pays the workload's set-up,
then repeats whole rounds of the workload's fixed work until ``S``
seconds have passed (at least one round), checks the outputs outside
the timing window and prints, as its last line,

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` the layers are instrumented and the
metrics are the per-layer ones. A line starting ``ENV`` before it
records the environment (core count, CPU steal share, JVM GC and JIT
seconds); a line starting ``LAYERS`` carries the workload-specific
layer breakdown. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time


def _process_start() -> float:
    """Wall-clock time this process started (from /proc), so set-up
    time includes interpreter start and imports."""
    now = time.time()
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return now - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return now


T_START = _process_start()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "database_activity_monitoring_dam_system_spark"
NPROC = len(os.sched_getaffinity(0))  # what `nproc` prints



def _declared() -> dict:
    """Metric names and units, from BENCHMARK.json at the checkout root."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {
        kind: {m["name"]: m["unit"] for m in spec[kind]}
        for kind in ("end_to_end", "per_layer")
    }


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _session(work: str):
    from database_activity_monitoring_dam_system_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait until the gateway JVM (and with it every
    Python worker it forked) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    a = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: the engine package {PKG!r} is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import probes
    from perfbench.workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl_cls = WORKLOADS[a.workload]
    declared = _declared()
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{a.workload}-s{a.seed}-t{a.trace}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # the engine's env modes: only the workload's own setting applies
    for mode in ("SPARK_DAM_SHARE_FRAMES", "SPARK_DAM_SPLIT_SMALL_SCANS",
                 "SPARK_DAM_CKPT_SCOPE", "SPARK_DAM_INDEX_DIR", "SPARK_GRAFT_MASTER"):
        os.environ.pop(mode, None)
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # every JVM the run starts (the launcher too) keeps its temp files
        # in the checkout and writes no hsperfdata file
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_GRAFT_CPUS": str(NPROC),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        **wl_cls.env,
    })
    time.tzset()
    spark = None
    try:
        spark = _session(work)
        counters = probes.Spark(spark)
        run_start = counters.snapshot()
        tracer = None
        if a.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(counters)
            tracer.install()
        wl = wl_cls(spark, work, a.seed)
        wl.setup()
        setup_s = time.time() - T_START

        host = probes.Host()
        before = counters.snapshot()
        lat: list[float] = []
        rounds: list[float] = []
        deadline = time.perf_counter() + a.seconds
        while True:
            t = time.perf_counter()
            lat.extend(wl.round())
            rounds.append(time.perf_counter() - t)
            if time.perf_counter() >= deadline:
                break
        lat = wl.finish() or lat
        after = counters.snapshot()
        steal = host.steal_share()
        peak_rss = counters.peak_rss_mb()
        n_rounds = len(rounds)
        attempted = wl.ops_per_round() * n_rounds

        from perfbench.checks import CheckFailed

        try:
            wl.check()
            correct = True
        except CheckFailed as exc:
            print(f"perfbench: check failed: {exc}", file=sys.stderr)
            correct = False

        measured = probes.delta(after, before)
        env = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "nproc": NPROC, "rounds": n_rounds, "ops": len(lat),
            "steal_share": steal, "gc_s": measured["gc_s"], "jit_s": measured["jit_s"],
            "peak_rss_mb": peak_rss,
            "round_s_all": rounds,
        }
        if a.workload == "ingest":
            env["events_per_s"] = wl.manifest["events"] / statistics.median(rounds)
        print("ENV " + json.dumps(env), flush=True)

        if not a.trace:
            values = {
                "setup_s": setup_s,
                "round_s": statistics.median(rounds),
                "op_p50_s": statistics.median(lat),
                "spark_jobs": measured["jobs"] / n_rounds,
                "spark_tasks": measured["tasks"] / n_rounds,
                "scan_input_mb": measured["input_mb"] / n_rounds,
                "shuffle_write_mb": measured["shuffle_write_mb"] / n_rounds,
            }
            units = declared["end_to_end"]
        else:
            tracer.uninstall()
            whole = probes.delta(counters.snapshot(), run_start)
            generic, detail = tracer.summary()
            units = declared["per_layer"]
            values = dict.fromkeys(units, 0)  # layers this workload never enters
            values.update(generic)
            values.update({
                "exec.jobs": whole["jobs"], "exec.stages": whole["stages"],
                "exec.tasks": whole["tasks"], "exec.task_s": whole["task_s"],
                "exec.input_mb": whole["input_mb"],
                "exec.shuffle_write_mb": whole["shuffle_write_mb"],
                "exec.spill_mb": counters.spill_mb(),
                "jvm.gc_s": whole["gc_s"], "jvm.jit_s": whole["jit_s"],
                "jvm.heap_peak_mb": counters.heap_peak_mb(),
                "host.steal_share": steal,
                "host.peak_rss_mb": peak_rss,
            })
            values.update(wl.per_layer())
            # layer numbers BENCHMARK.json does not declare stay in the LAYERS line
            detail.update({k: v for k, v in values.items() if k not in units})
            detail.update(wl.layer_detail)
            detail["traced_round_s"] = statistics.median(rounds)
            detail["traced_op_p50_s"] = statistics.median(lat)
            detail["spans"] = len(tracer.spans)
            print("LAYERS " + json.dumps(detail), flush=True)
            records = os.path.join(base, "records")
            os.makedirs(records, exist_ok=True)
            tracer.dump(os.path.join(records, f"spans-{a.workload}-s{a.seed}.json"))
        result = {
            "correct": correct,
            "attempted": attempted,
            "failed": 0,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
