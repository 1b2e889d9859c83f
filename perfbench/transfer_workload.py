"""``transfer_stream``: the production streaming pipeline over job files.

``spark.readStream.text`` over a directory of job-manifest files stands
in for Kafka (its connector is not on the class path) and feeds the
production ``foreach_batch_factory`` body. Two phases:

- backlog: ``BACKLOG_JOBS`` jobs are published before the stream starts
  and drained ``MAX_FILES_PER_TRIGGER`` files per micro-batch. One drain
  is one pass; its wall time runs from stream start to the end of the
  last batch body.
- steady: an open-loop generator thread publishes one file of
  ``STEADY_JOBS_PER_FILE`` jobs every ``STEADY_PERIOD_S`` seconds. Each
  job is timed from its file's scheduled publish time to the end of the
  ``foreachBatch`` call that wrote its status row.

A fifth of the jobs are faulty, spread over the six classes of
FIXTURES.md §1.1; some valid jobs carry no ``job_id`` and some carry extra
fields. The untimed check at the end requires every job to have exactly
one outcome: its destination holding the source's bytes, or one DLQ
envelope with the expected error class; and no staging or ``.etl-tmp-``
file left behind.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.tracing import Tracer, median, percentile, supported_percentile

BACKLOG_JOBS = 400
BACKLOG_JOBS_PER_FILE = 20
MAX_FILES_PER_TRIGGER = 10
# 40 jobs/s, under a third of what a backlog drain moves: near capacity,
# a slow batch grows the next one and latency runs away with the machine.
STEADY_JOBS_PER_FILE = 4
STEADY_PERIOD_S = 0.1
SOURCE_FILES = 400
HANDLER_SAMPLE = 200
SRC_HOST, DST_HOST = "BENCH_SRC", "BENCH_DST"
_STAGING = re.compile(r"^etl-[0-9a-f]{32}$")


class TransferWorkload:
    """State of one transfer_stream run."""

    def __init__(self, seed: int, cores: int):
        self.seed = seed
        self.cores = cores
        self.rng = np.random.default_rng([seed, 3])
        self.root = ""
        self.sources: list[str] = []
        self.runs: list[dict] = []  # one per stream: backlog passes, then steady
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.copy_ms: list[float] = []

    # -- set-up -------------------------------------------------------------

    def generate(self, out_dir: str) -> None:
        self.root = out_dir
        self.sources = datagen.write_source_files(os.path.join(out_dir, "src"), self.seed, SOURCE_FILES)

    def servers(self, spark):
        from etl_file_sync_spark.pipeline.config import ServerConfig, servers_dataframe

        return servers_dataframe(
            spark, [ServerConfig(hostname=SRC_HOST, type="local"), ServerConfig(hostname=DST_HOST, type="local")]
        )

    # -- streams ------------------------------------------------------------

    def _new_run(self, kind: str) -> dict:
        n = len(self.runs)
        d = os.path.join(self.root, f"run{n:02d}")
        run = {
            "kind": kind, "dir": d, "manifests": os.path.join(d, "manifests"),
            "jobs": [], "publish_at": {}, "batches": [], "progress": [],
        }
        os.makedirs(run["manifests"])
        self.runs.append(run)
        return run

    def _publish(self, run: dict, tag: str, n: int) -> str:
        """Write one manifest file of ``n`` fresh jobs; returns its name."""
        jobs = datagen.make_jobs(
            self.rng, tag, n, self.sources, os.path.join(run["dir"], "dst"), SRC_HOST, DST_HOST
        )
        name = f"{tag}.jsonl"
        staged = os.path.join(run["dir"], name)
        datagen.write_manifest(staged, [line for line, _ in jobs])
        os.replace(staged, os.path.join(run["manifests"], name))  # appear atomically
        run["jobs"].extend(expect for _, expect in jobs)
        self.attempted += n
        return name

    def _body(self, spark, run: dict, tracer: Tracer):
        """The foreachBatch function: the production body, timed from
        outside; traced, the same steps one by one under spans."""
        from etl_file_sync_spark.pipeline.sink import foreach_batch_factory

        status_dir, dlq_dir = os.path.join(run["dir"], "status"), os.path.join(run["dir"], "dlq")
        servers = self.servers(spark)
        production = foreach_batch_factory(servers, dlq_dir, status_dir)

        def body(batch_df, epoch_id: int) -> None:
            rec = {"batch": epoch_id}
            try:
                with tracer.span("pipeline.sink", batch=epoch_id) as whole:
                    if tracer.enabled:
                        rec.update(self._traced_body(tracer, batch_df, servers, status_dir, dlq_dir))
                    else:
                        production(batch_df, epoch_id)
            except Exception as exc:  # recorded, then fails the stream and the run
                self.errors.append(f"batch {epoch_id}: {type(exc).__name__}: {str(exc)[:300]}")
                raise
            rec["end"] = time.perf_counter()
            rec["body_s"] = whole["wall_s"]
            for k in ("jobs", "stages", "tasks"):
                rec[k] = whole.get(k)
            run["batches"].append(rec)

        return body

    def _traced_body(self, tracer: Tracer, batch_df, servers, status_dir: str, dlq_dir: str) -> dict:
        """``foreach_batch_factory``'s body (via ``run_manifest_batch``)
        decomposed into its public steps, each under a span. The split is
        counted so its rows are known; that extra work is part of the
        measured tracing overhead."""
        from etl_file_sync_spark.pipeline.sink import run_transfers
        from etl_file_sync_spark.pipeline.transform import dlq_envelope, split_valid_dlq

        with tracer.span("pipeline.transform") as split_span:
            split = split_valid_dlq(batch_df, servers)
            valid_rows, dlq_rows = split.valid.count(), split.dlq.count()
        with tracer.span("pipeline.sink.transfer") as transfer:
            status = run_transfers(split.valid).localCheckpoint(eager=True)
        failures = status.filter("status = 'error'")
        error_rows = failures.count()
        with tracer.span("pipeline.sink.status_write") as status_write:
            status.write.mode("append").parquet(status_dir)
        with tracer.span("pipeline.sink.dlq_write") as dlq_write:
            transfer_failures = failures.selectExpr(
                "to_json(named_struct('job_id', job_id, 'src_path', src_path, 'dst_path', dst_path))"
                " AS original_message",
                "error",
            )
            dlq = dlq_envelope(split.dlq.unionByName(transfer_failures)).localCheckpoint(eager=True)
            dlq.write.mode("append").parquet(dlq_dir)
        return {
            "split_s": split_span["wall_s"], "transfer_s": transfer["wall_s"],
            "status_write_s": status_write["wall_s"], "dlq_write_s": dlq_write["wall_s"],
            "valid_rows": valid_rows, "dlq_rows": dlq_rows, "error_rows": error_rows,
            "rows": valid_rows + dlq_rows,
        }

    def _start(self, spark, run: dict, tracer: Tracer, max_files: int | None):
        reader = spark.readStream
        if max_files:
            reader = reader.option("maxFilesPerTrigger", max_files)
        return (
            reader.text(run["manifests"])
            .writeStream.foreachBatch(self._body(spark, run, tracer))
            .option("checkpointLocation", os.path.join(run["dir"], "checkpoint"))
            .start()
        )

    def _finish(self, query, run: dict) -> None:
        query.processAllAvailable()
        run["progress"] = [json.loads(p.json) for p in query.recentProgress]
        query.stop()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        run["file_batch"] = _file_batches(os.path.join(run["dir"], "checkpoint", "sources", "0"))

    def backlog_pass(self, spark, tracer: Tracer) -> None:
        run = self._new_run("backlog")
        tag = f"b{len(self.runs) - 1:02d}"
        for i in range(BACKLOG_JOBS // BACKLOG_JOBS_PER_FILE):
            self._publish(run, f"{tag}-{i:03d}", BACKLOG_JOBS_PER_FILE)
        run["traced"] = tracer.enabled
        t0 = time.perf_counter()
        query = self._start(spark, run, tracer, MAX_FILES_PER_TRIGGER)
        try:
            self._finish(query, run)
        finally:
            if query.isActive:
                query.stop()
        run["wall_s"] = max(b["end"] for b in run["batches"]) - t0

    def steady_phase(self, spark, tracer: Tracer, seconds: float) -> None:
        """Open loop: the generator keeps its schedule however the stream fares."""
        run = self._new_run("steady")
        run["traced"] = tracer.enabled
        query = self._start(spark, run, tracer, None)
        n_files = max(1, int(seconds / STEADY_PERIOD_S))
        late: list[float] = []

        def generate() -> None:
            t0 = time.perf_counter() + STEADY_PERIOD_S
            for i in range(n_files):
                due = t0 + i * STEADY_PERIOD_S
                pause = due - time.perf_counter()
                if pause > 0:
                    time.sleep(pause)
                late.append(time.perf_counter() - due)
                run["publish_at"][self._publish(run, f"s-{i:05d}", STEADY_JOBS_PER_FILE)] = due

        gen = threading.Thread(target=generate, name="job-generator")
        gen.start()
        try:
            gen.join()
            self._finish(query, run)
        finally:
            gen.join()
            if query.isActive:
                query.stop()
        run["max_late_ms"] = max(late) * 1000.0

    # -- handlers baseline ----------------------------------------------------

    def handler_baseline(self) -> None:
        """Direct, single-threaded LocalTransfer download + upload calls on
        a sample of the workload's files: the per-file floor."""
        from etl_file_sync_spark.pipeline.config import ServerConfig
        from etl_file_sync_spark.pipeline.handlers import TransferFactory

        handler = TransferFactory.create(ServerConfig(hostname=SRC_HOST, type="local"))
        d = os.path.join(self.root, "handlers")
        os.makedirs(d)
        for i, src in enumerate(self.sources[:HANDLER_SAMPLE]):
            tmp, dst = os.path.join(d, f"stage-{i}"), os.path.join(d, "dst", f"{i}.bin")
            t0 = time.perf_counter()
            handler.download(src, tmp)
            handler.upload(tmp, dst)
            self.copy_ms.append((time.perf_counter() - t0) * 1000.0)
            os.unlink(tmp)

    # -- checks ---------------------------------------------------------------

    def check(self) -> None:
        """Every job has exactly one outcome, and nothing is left staged."""
        for run in self.runs:
            self._check_run(run)
        tmp = os.environ.get("TMPDIR", "")
        left = [f for f in os.listdir(tmp) if _STAGING.match(f)] if tmp else []
        left += [
            os.path.join(dp, f)
            for run in self.runs
            for dp, _, fs in os.walk(os.path.join(run["dir"], "dst"))
            for f in fs
            if ".etl-tmp-" in f
        ]
        for f in left:
            self._fail(f"left behind: {f}")

    def _fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(msg)

    def _check_run(self, run: dict) -> None:
        outcomes: dict[str, list] = {}
        keys = {e["key"] for e in run["jobs"]}
        status = _read(os.path.join(run["dir"], "status"))
        for job_id, st, dst in zip(status.get("job_id", []), status.get("status", []), status.get("dst_path", [])):
            if st == "ok":
                # a job sent without an id got a generated one: key it by destination
                outcomes.setdefault(job_id if job_id in keys else dst, []).append(("ok", dst))
        dlq = _read(os.path.join(run["dir"], "dlq"))
        for value in dlq.get("value", []):
            env = json.loads(value)
            orig = json.loads(env["original_message"])
            raw = orig.get("raw")
            if raw is not None:
                key = raw.split()[-1] if raw.startswith("not json") else json.loads(raw)["job_id"]
            else:
                key = orig["job_id"]
            outcomes.setdefault(key, []).append(("dlq", env["error"]))
        for expect in run["jobs"]:
            got = outcomes.pop(expect["key"], [])
            if len(got) != 1:
                self._fail(f"{expect['key']}: {len(got)} outcomes")
            elif "error" in expect:
                if got[0][0] != "dlq" or not got[0][1].startswith(expect["error"]):
                    self._fail(f"{expect['key']}: expected DLQ {expect['error']}, got {got[0]}")
            elif got[0][0] != "ok" or not _same_bytes(expect["src"], expect["dst"]):
                self._fail(f"{expect['key']}: expected a copy of {expect['src']}, got {got[0]}")
        for key in outcomes:
            self._fail(f"unexpected outcome for {key}")

    # -- metrics ----------------------------------------------------------------

    def steady_latencies(self) -> tuple[list[float], int]:
        """Per-job latency of the steady phase, and its batch count."""
        run = next(r for r in self.runs if r["kind"] == "steady")
        end = {b["batch"]: b["end"] for b in run["batches"]}
        lat = []
        for name, due in run["publish_at"].items():
            lat.extend([end[run["file_batch"][name]] - due] * STEADY_JOBS_PER_FILE)
        return lat, len(run["batches"])

    def end_to_end(self) -> dict[str, float]:
        backlog = [r for r in self.runs if r["kind"] == "backlog"]
        plain = [r["wall_s"] for r in backlog[1:] if not r["traced"]]
        lat, n_batches = self.steady_latencies()
        out = {
            "first_pass_s": backlog[0]["wall_s"],
            "pass_s": median(plain),
            "passes": len(plain),
            "backlog_files_per_s": median(
                [_ok_jobs(r) / r["wall_s"] for r in backlog[1:] if not r["traced"]]
            ),
            "latency_p50_s": median(lat),
            "latency_p90_s": percentile(lat, 90),
            "latency_samples": len(lat),
            "latency_batches": n_batches,
        }
        if supported_percentile(len(lat), 99):
            out["latency_p99_s"] = percentile(lat, 99)
        return out

    def per_layer(self) -> dict[str, float]:
        backlog = [r for r in self.runs if r["kind"] == "backlog"][1:]
        traced = [r for r in backlog if r["traced"]]
        plain = [r for r in backlog if not r["traced"]]
        last = traced[-1]
        batches = last["batches"]
        transfer_s = sum(b["transfer_s"] for b in batches)
        valid = sum(b["valid_rows"] for b in batches)
        per_file_core_ms = transfer_s * self.cores / valid * 1000.0
        steady = next(r for r in self.runs if r["kind"] == "steady")
        trig = [
            p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0)
            for p in steady["progress"]
            if p["numInputRows"] > 0
        ]
        jobs = sum(b["jobs"] for b in batches)
        return {
            "pass.jobs": jobs,
            "pass.stages": sum(b["stages"] for b in batches),
            "pass.tasks": sum(b["tasks"] for b in batches),
            "pass.s_per_job": last["wall_s"] / jobs,
            "microbatch.batches": len(batches),
            "microbatch.rows_per_batch_p50": median([b["rows"] for b in batches]),
            "microbatch.jobs_per_batch": jobs / len(batches),
            "microbatch.trigger_overhead_ms_p50": median(trig),
            "pipeline.sink.batch_body_s_p50": median([b["body_s"] for b in steady["batches"]]),
            "pipeline.transform.split_s": sum(b["split_s"] for b in batches),
            "pipeline.transform.valid_rows": valid,
            "pipeline.transform.dlq_rows": sum(b["dlq_rows"] for b in batches),
            "pipeline.sink.transfer_s": transfer_s,
            "pipeline.sink.error_rows": sum(b["error_rows"] for b in batches),
            "pipeline.sink.status_write_s": sum(b["status_write_s"] for b in batches),
            "pipeline.sink.dlq_write_s": sum(b["dlq_write_s"] for b in batches),
            "pipeline.handlers.copy_ms_p50": median(self.copy_ms),
            "pipeline.handlers.copy_ms_p99": percentile(self.copy_ms, 99),
            "pipeline.sink.per_file_core_ms": per_file_core_ms,
            "pipeline.sink.useful_share": median(self.copy_ms) / per_file_core_ms,
            "generator.max_late_ms": steady["max_late_ms"],
            "trace.overhead_share": median([r["wall_s"] for r in traced])
            / median([r["wall_s"] for r in plain]) - 1.0,
            "queries.build_jobs": 0,  # this workload builds no registered query
        }

    def trace_records(self) -> list[dict]:
        """Per-batch rows of every stream, for the trace artifact."""
        rows = []
        for i, run in enumerate(self.runs):
            progress = {p["batchId"]: p for p in run["progress"]}
            for b in run["batches"]:
                p = progress.get(b["batch"], {})
                d = p.get("durationMs", {})
                rows.append({
                    "run": i, "kind": run["kind"], "traced": run["traced"], "batch": b["batch"],
                    "rows": p.get("numInputRows"), "spark_jobs": b.get("jobs"), "body_s": b["body_s"],
                    "trigger_ms": d.get("triggerExecution"), "add_batch_ms": d.get("addBatch"),
                    **{k: b[k] for k in ("split_s", "transfer_s", "status_write_s", "dlq_write_s",
                                         "valid_rows", "dlq_rows", "error_rows") if k in b},
                })
        return rows


def _file_batches(source_log: str) -> dict[str, int]:
    """Input file name -> micro-batch id, from the file source's log in
    the checkpoint (one JSON entry per file after a version line; a
    ``.compact`` file repeats the entries of the batches before it)."""
    out = {}
    for name in os.listdir(source_log):
        if name.startswith("."):
            continue
        with open(os.path.join(source_log, name)) as fh:
            for line in fh.read().splitlines()[1:]:
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def _read(path: str) -> dict[str, list]:
    return pq.read_table(path).to_pydict() if os.path.isdir(path) else {}


def _same_bytes(a: str, b: str) -> bool:
    try:
        with open(a, "rb") as fa, open(b, "rb") as fb:
            return fa.read() == fb.read()
    except OSError:
        return False


def _ok_jobs(run: dict) -> int:
    return sum(1 for e in run["jobs"] if "error" not in e)
