"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads: ``analytics`` and
``transfer_stream`` (see perfbench/README.md). The program runs on
``local[<cores>]`` in this one client process; all inputs are generated
from ``--seed`` into a scratch directory inside the checkout, which is
removed on exit. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` it
holds the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` the
per-layer ones. Every metric the run computed, per-layer ones specific
to the workload included, is printed above that line and written with
the per-query or per-batch records to perfbench/results/.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import time
import traceback
from pathlib import Path

T_START = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.tracing import RssSampler, Tracer, descendants, median, reap  # noqa: E402

WORKLOADS = ("analytics", "transfer_stream")
SETUPS = 5
MIN_TIMED_PASSES = 4
JVM_HEAP = "2g"
SUFFIX_UNITS = (("_ms", "ms"), ("_mb", "MiB"), ("_share", "share"), ("_s", "s"))
UNIT_OVERRIDES = {"backlog_files_per_s": "1/s", "pass.s_per_job": "s"}


def unit_of(name: str) -> str:
    """Unit of a printed metric: from its suffix, after any ``_pNN``."""
    if name in UNIT_OVERRIDES:
        return UNIT_OVERRIDES[name]
    base = re.sub(r"_p\d+$", "", name)
    return next((unit for suffix, unit in SUFFIX_UNITS if base.endswith(suffix)), "count")


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: Path) -> None:
    """Keep every file Spark, DuckDB and the program write inside ``work``.

    Must run before pyspark starts its JVM."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'} pyspark-shell"
    )


def set_up(workload, work: Path, cores: int) -> tuple[object, list[dict], list]:
    """Set up ``SETUPS`` times: session, prep and input generation.

    Each repetition after the first stops the session and builds a new
    one, so set-up time is a median, not one sample. Returns the live
    session, one record per set-up, and the stopped sessions (kept
    referenced so the program's per-session memos never see a reused id).
    """
    from etl_file_sync_spark.session import get_spark, prep

    records, stopped, spark = [], [], None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
            stopped.append(spark)
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=cores)
        t1 = time.perf_counter()
        prep(spark)
        t2 = time.perf_counter()
        data = work / f"data{i}"
        workload.generate(str(data))
        t3 = time.perf_counter()
        records.append({"get_spark_s": t1 - t0, "prep_s": t2 - t1, "datagen_s": t3 - t2, "total_s": t3 - t0})
        if i:
            shutil.rmtree(work / f"data{i - 1}", ignore_errors=True)
    return spark, records, stopped


def timed_passes(run_pass, seconds: float, trace: bool) -> None:
    """Passes until ``seconds`` have gone by, and at least
    MIN_TIMED_PASSES of them, so that a median drops one slow pass (the
    first after the cold one is still about a fifth slower while the JVM
    compiles). Traced runs alternate untraced and traced passes, so the
    tracing overhead is measured within the run."""
    t0, n = time.perf_counter(), 0
    while n < MIN_TIMED_PASSES or time.perf_counter() - t0 < seconds:
        run_pass(traced=trace and n % 2 == 1)
        n += 1


def run_queries(workload, spark, seconds: float, trace: bool) -> None:
    tracers = {False: Tracer(spark, enabled=False), True: Tracer(spark, enabled=True)}
    workload.run_pass(spark, tracers[False])
    timed_passes(lambda traced: workload.run_pass(spark, tracers[traced]), seconds, trace)


def run_transfer(workload, spark, seconds: float, trace: bool) -> None:
    tracers = {False: Tracer(spark, enabled=False), True: Tracer(spark, enabled=True)}
    workload.backlog_pass(spark, tracers[False])
    # The steady phase gets two thirds: its latency median rests on the
    # few micro-batches that fit, one every second or so.
    timed_passes(lambda traced: workload.backlog_pass(spark, tracers[traced]), seconds / 3, trace)
    workload.steady_phase(spark, tracers[trace], seconds * 2 / 3)
    if trace:
        workload.handler_baseline()


def setup_metrics(records: list[dict]) -> dict[str, float]:
    return {
        "setup_s": median([r["total_s"] for r in records]),
        "setup.cold_s": records[0]["total_s"],
        "session.get_spark_s": median([r["get_spark_s"] for r in records]),
        "session.prep_s": median([r["prep_s"] for r in records]),
        "setup.datagen_s": median([r["datagen_s"] for r in records]),
    }


def load_declared() -> dict:
    with open(ROOT / "BENCHMARK.json") as fh:
        return json.load(fh)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / "etl_file_sync_spark" / "__init__.py").is_file():
        print(f"perfbench: no etl_file_sync_spark package under {ROOT}", file=sys.stderr)
        return 2
    declared = load_declared()
    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    isolate(work)
    sampler = RssSampler().start()
    load_before = os.getloadavg()[0]
    spark, stopped, peak_mb = None, [], None
    try:
        if args.workload == "transfer_stream":
            from perfbench.transfer_workload import TransferWorkload

            workload, run = TransferWorkload(args.seed, cores), run_transfer
        else:
            from perfbench.query_workloads import QueryWorkload

            workload, run = QueryWorkload(args.seed), run_queries
        spark, setups, stopped = set_up(workload, work, cores)
        run(workload, spark, args.seconds, bool(args.trace))
        # the program's memory, before the checks add their own (DuckDB
        # runs in this process)
        peak_mb = sampler.stop()
        workload.check()
        metrics = {**setup_metrics(setups), **workload.end_to_end()}
        if args.trace:
            metrics.update(workload.per_layer())
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            from pyspark import SparkContext

            # The JVM only exits once its stdin closes, normally when this
            # process ends; close it here and wait, so no process outlives
            # the run.
            gateway = SparkContext._gateway
            spark.stop()
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        if peak_mb is None:
            sampler.stop()
        reap(sampler.seen | {pid for pid, _ in descendants(os.getpid())})
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass

    metrics["peak_rss_mb"] = peak_mb
    metrics["run.wall_s"] = time.perf_counter() - T_START
    metrics["host.loadavg_before"] = load_before
    metrics["host.loadavg_after"] = os.getloadavg()[0]
    metrics["failed_share"] = workload.failed / workload.attempted
    for err in workload.errors:
        print(f"FAILED {err}")
    for name in sorted(metrics):
        print(f"{name} = {metrics[name]:.6g} {unit_of(name)}")
    write_artifact(args, metrics, workload)

    wanted = declared["per_layer" if args.trace else "end_to_end"]
    out = {
        "correct": workload.failed == 0,
        "attempted": workload.attempted,
        "failed": workload.failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(out))
    return 0


def write_artifact(args: argparse.Namespace, metrics: dict, workload) -> None:
    out_dir = ROOT / "perfbench" / "results"
    out_dir.mkdir(exist_ok=True)
    path = out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(path, "w") as fh:
        json.dump({"args": vars(args), "metrics": metrics, "records": workload.trace_records()}, fh, indent=1)


if __name__ == "__main__":
    sys.exit(main())
