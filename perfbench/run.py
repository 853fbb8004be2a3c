"""KG-construction benchmark driver.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Run from the repository root. One process starts one Spark session on
``local[nproc]``, builds the workload's inputs from ``--seed``, discards one
warm-up iteration, measures for ``--seconds`` and checks every output. Human
readable lines go to stdout first; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a separate traced
pass (spans are written to ``.perfbench_out/``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "research_on_document_level_person_relation_extraction_in_chinese_spark"
WORKLOADS = ("extract", "link_graph", "checkpoint_resume", "stream")


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(work: Path) -> None:
    """Everything Spark, the JVM and the Python workers write goes under
    ``work``; the workers import the package from the repository root
    whatever the working directory."""
    for sub in ("tmp", "local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'}"
    mem = os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    # Driver JVM flags, placed before the session's own extraJavaOptions.
    # C1 only: with the C2 tier the JVM keeps compiling for minutes, on as
    # many compiler threads as the session asks for, so a short run would
    # time the compiler's warm-up rather than the plan; C1 code reaches its
    # plateau within the one discarded warm-up iteration. -Xms = -Xmx: with
    # a growing heap, GC work followed when G1 chose to grow it, and CPU per
    # link_graph iteration was 19.1 s in one run of a seed, 14.3 s in the
    # next.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f'--conf "spark.driver.defaultJavaOptions=-XX:TieredStopAtLevel=1 -Xms{mem}" '
        "pyspark-shell"
    )
    sys.path.insert(0, str(ROOT))


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_times() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU time the hypervisor gave to other guests between two
    ``_cpu_times`` readings (the eighth field is steal)."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    return delta[7] / total if total and len(delta) > 7 else 0.0


def _emit(workload: str, name: str, value, unit: str, note: str = "") -> None:
    print(f"{workload:<11} {name:<16} {value:>14.6g} {unit:<7} {note}".rstrip(), flush=True)


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM it ran in, and wait until it is gone;
    the Python workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=10)


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    os.chdir(work)

    from procmon import RssMonitor  # noqa: E402 — after sys.path is set
    import workloads as W  # noqa: E402

    nproc = _nproc()
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpu_count": nproc,
        "loadavg_1m_before": os.getloadavg()[0],
        "python": platform.python_version(),
    }
    monitor = RssMonitor(os.getpid())
    monitor.start()
    spark = None
    phases: dict = {}
    try:
        t0 = time.perf_counter()
        from research_on_document_level_person_relation_extraction_in_chinese_spark import (
            get_spark,
        )

        spark = get_spark(f"perfbench-{args.workload}", cores=nproc)
        start_s = time.perf_counter() - t0
        info["spark"] = spark.version
        info["master"] = spark.sparkContext.master

        wl = W.make(args.workload, spark, work, args.seed, nproc, args.seconds, small=False)
        t = time.perf_counter()
        wl.make_inputs()
        input_gen_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.prepare_check()
        phases["check_inputs"] = time.perf_counter() - t
        t = time.perf_counter()
        if not wl.warmup():
            raise RuntimeError("warm-up iteration failed its output check")
        warmup_s = time.perf_counter() - t
        info["inputs"] = wl.props
        # what a user pays before the first timed iteration; the output
        # oracle (check_inputs) is the benchmark's own cost and left out
        setup_s = start_s + input_gen_s + warmup_s
        phases.update(start=start_s, input_gen=input_gen_s, warmup=warmup_s)

        phases["setup"] = time.perf_counter() - t0
        monitor.reset_peak()
        cpu_before = _cpu_times()
        if args.trace:
            import tracing as T

            tracer = T.Tracer(spark)
            res = T.traced_measure(wl, tracer, args.seconds)
        else:
            res = wl.measure(args.seconds)
        rss = monitor.peak_mb()
        info["steal_share_measure"] = _steal_share(cpu_before, _cpu_times())
        phases["measure"] = time.perf_counter() - t0 - phases["setup"]

        if args.trace:
            layer = T.layer_sweep(spark, work, args.seed, nproc, wl, tracer)
            layer.update(
                {
                    "session.start_s": start_s,
                    "session.warmup_s": warmup_s,
                    "setup.input_gen_s": input_gen_s,
                    "trace.wall_s": res["trace_wall_s"],
                    "trace.overhead_s": res["trace_wall_s"] - res["wall_s"],
                }
            )
            out_dir = ROOT / ".perfbench_out"
            out_dir.mkdir(exist_ok=True)
            span_file = out_dir / f"trace-{args.workload}-{args.seed}.json"
            tracer.dump(span_file, info=info, metrics=layer)
            info["spans"] = str(span_file.relative_to(ROOT))
    except Exception:  # noqa: BLE001 — any set-up failure ends the run without a result
        traceback.print_exc()
        if spark is not None:
            _stop_jvm(spark)
        if not monitor.wait_for_children(timeout=30):
            monitor.kill_children()
        monitor.stop()
        shutil.rmtree(work, ignore_errors=True)
        return 1

    t_stop = time.perf_counter()
    _stop_jvm(spark)
    if not monitor.wait_for_children(timeout=30):
        monitor.kill_children()
    monitor.stop()
    phases["stop"] = time.perf_counter() - t_stop
    info["phases_s"] = phases
    os.chdir(ROOT)
    shutil.rmtree(work, ignore_errors=True)
    info["loadavg_1m_after"] = os.getloadavg()[0]

    attempted, failed = res["attempted"], res["failed"]
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "cpu_s": (res["cpu_s"], "s"),
        "peak_rss_mb": (rss, "MB"),
    }
    print(json.dumps({"info": info}, ensure_ascii=False), flush=True)
    for name, (value, unit) in end_to_end.items():
        _emit(args.workload, name, value, unit)
    # printed, not in the result line: wall time moves with the
    # hypervisor's steal and the other guests' load, and ten runs of the
    # same code spread up to 0.29 (IQR / median), past the 0.25 bound
    _emit(args.workload, "wall_s", res["wall_s"], "s")
    for name, (value, unit, note) in res.get("extra", {}).items():
        _emit(args.workload, name, value, unit, note)
    _emit(args.workload, "error_rate", failed / attempted, "ratio", f"{failed}/{attempted}")

    if args.trace:
        metrics = {k: {"value": v, "unit": T.unit_of(k)} for k, v in layer.items()}
        for k, v in layer.items():
            _emit(args.workload, k, v, T.unit_of(k))
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
