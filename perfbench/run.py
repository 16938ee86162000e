"""Benchmark runner: one workload, one seed, one timed run.

    python3 perfbench/run.py --workload mart_batch --seed 1 --seconds 1 --trace 0

Run from the repository root. Set-up generates the inputs from the seed and
starts a local Spark session. The run then calls the workload's operation
until `--seconds` have passed; the last call always completes, so a short
`--seconds` times exactly one call, the first in the fresh session, as a
scheduled job runs, and a long one shows the cold/warm split call by call.
Correctness checks run after the timed region. Every file the run writes
stays under `.perfbench_work/` (deleted at the end) and `.perfbench_out/`
(the run record) in the current directory.

With `--trace 0` the last stdout line reports the end-to-end metrics. With
`--trace 1` the Spark event log is on, the timed calls are traced, and the
last line reports the per-layer metrics, with the tracing overhead against
the untraced run of the same seed when one is recorded. BENCHMARK.json
lists both metric sets; perfbench/METRICS.md says what each should move.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "clinical_search_data_pipeline_spark"
CORES = 4
SETUP_REPEATS = 3  # input generation is repeated and its median reported
DEADLINE_S = 100  # with a long --seconds, no new timed call starts past this


def tree_pids(pid: int):
    """`pid` and all its descendants."""
    todo = [pid]
    while todo:
        p = todo.pop()
        yield p
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue


def tree_pss_bytes(pid: int) -> dict[str, int]:
    """Proportional set size of each Python and Java process in the tree,
    keyed by "pid:name". PSS splits pages shared between forked Python
    workers, so the sum is the tree's footprint whatever the number of
    workers. Other processes are skipped: a child the JVM is spawning
    shares the JVM's address space until it execs, and counting it would
    count the JVM twice."""
    out = {}
    for p in tree_pids(pid):
        try:
            with open(f"/proc/{p}/comm") as fh:
                name = fh.read().strip()
            if not name.startswith(("python", "java")):
                continue
            with open(f"/proc/{p}/smaps_rollup") as fh:
                out[f"{p}:{name}"] = next(int(line.split()[1]) * 1024 for line in fh
                                          if line.startswith("Pss:"))
        except (FileNotFoundError, ProcessLookupError, StopIteration):
            continue
    return out


def tree_cpu_s(pid: int) -> float:
    """User + system CPU seconds of the process tree, including its reaped
    children."""
    ticks = 0
    for p in tree_pids(pid):
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        ticks += sum(int(f) for f in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def host_cpu_ticks() -> dict[str, int]:
    """Machine-wide CPU ticks by state, for the run record."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:9]]
    return dict(zip(("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"), vals))


class PssSampler(threading.Thread):
    """Peak memory of the whole process tree (driver Python, JVM, Python
    workers), sampled every 200 ms from start() to stop()."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self.peak_by_process: dict[str, int] = {}  # the sample that set the peak
        self._stop_evt = threading.Event()

    def run(self):
        while True:
            sample = tree_pss_bytes(os.getpid())
            if sum(sample.values()) > self.peak:
                self.peak, self.peak_by_process = sum(sample.values()), sample
            if self._stop_evt.wait(0.2):
                return

    def stop(self):
        self._stop_evt.set()
        self.join()


def start_spark(work: str, trace: bool):
    from clinical_search_data_pipeline_spark.session import get_spark

    confs = {
        "spark.sql.shuffle.partitions": str(CORES),
        "spark.driver.memory": "2g",
        "spark.local.dir": f"{work}/tmp",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # HotSpot writes its perf counters under /tmp whatever java.io.tmpdir says
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(f"{work}/eventlog")
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]", extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


JOBS = ("bronze_archive_job", "mart_etl_job", "mart_load_job", "training_export_job",
        "ingest_admission_job")
# spans reported with inclusive time, self time and call count
TIMED_SPANS = tuple(f"jobs.{j}" for j in JOBS) + (
    "streaming.runner.run_foreach_batch", "streaming.runner.batch",
    "streaming.hot_marts.process",
)
# spans reported with inclusive time and call count
COUNTED_SPANS = (
    "sinks.manifest.write_snapshot", "sinks.manifest.read_snapshot",
    "sinks.parquet.write_partitioned", "sources.readers.load_events",
    "sources.readers.read_table", "operators.ingest.bronze_archive",
    "operators.curation.curation_funnel", "operators.curation.token_budget_sample",
    "operators.curation.train_order", "operators.dedup.jaccard_pairs",
    "operators.components.connected_components", "operators.curation.batch_vs_corpus",
    "operators.importance.dsir_score", "operators.spans.span_contamination",
    "operators.classifier.quality_score", "operators.phash.image_vs_corpus",
)
# spans reported with Spark engine counts (their descendants' jobs included)
ENGINE_SPANS = (
    "jobs.bronze_archive_job", "jobs.mart_etl_job", "jobs.training_export_job",
    "jobs.ingest_admission_job", "operators.curation.curation_funnel",
    "streaming.runner.batch", "streaming.hot_marts.process",
)


def install_spans(tracer) -> None:
    """Wrap the program's public layer functions (module attributes)."""
    from clinical_search_data_pipeline_spark import caching
    from clinical_search_data_pipeline_spark.jobs import pipelines
    from clinical_search_data_pipeline_spark.operators import (
        classifier, components, curation, dedup, importance, ingest, phash, spans,
    )
    from clinical_search_data_pipeline_spark.sinks import manifest
    from clinical_search_data_pipeline_spark.sinks import parquet
    from clinical_search_data_pipeline_spark.sources import readers
    from clinical_search_data_pipeline_spark.streaming import runner

    for name in JOBS:
        tracer.wrap(pipelines, name, name=f"jobs.{name}")
    tracer.wrap(manifest, "write_snapshot")
    tracer.wrap(manifest, "read_snapshot")
    tracer.wrap(parquet, "write_partitioned")
    tracer.wrap(readers, "load_events")
    tracer.wrap(readers, "read_table")
    tracer.wrap(ingest, "bronze_archive")
    tracer.wrap(curation, "curation_funnel")
    tracer.wrap(curation, "token_budget_sample")
    tracer.wrap(curation, "train_order")
    tracer.wrap(dedup, "jaccard_pairs")
    tracer.wrap(components, "connected_components")
    tracer.wrap(caching, "engine_cache")
    # the seven admission gates, imported by the job at call time (the
    # image, audio and video screens all go through image_vs_corpus)
    tracer.wrap(curation, "batch_vs_corpus")
    tracer.wrap(importance, "dsir_score")
    tracer.wrap(spans, "span_contamination")
    tracer.wrap(classifier, "quality_score")
    tracer.wrap(phash, "image_vs_corpus")
    # the jobs module holds its own reference to the runner
    for module in (runner, pipelines):
        tracer.wrap_batch_runner(module, "run_foreach_batch", "streaming.runner.run_foreach_batch",
                                 "streaming.runner.batch")


def layer_metrics(tracer, workload, traced_ops: list[int], log: dict | None) -> dict:
    """The per-layer metrics, per traced operation."""
    from tracing import ENGINE_COUNTS, attribute_jobs, descendants, engine_counts, self_times

    n = max(1, len(traced_ops))
    spans = [s for s in tracer.spans if s["end"] is not None]
    selft = self_times(spans)
    m: dict[str, float] = {}

    def by_name(name):
        return [s for s in spans if s["name"] == name]

    for name in TIMED_SPANS + COUNTED_SPANS:
        ss = by_name(name)
        m[f"{name}.s"] = sum(s["end"] - s["start"] for s in ss) / n
        if name in TIMED_SPANS:
            m[f"{name}.self_s"] = sum(selft[s["id"]] for s in ss) / n
        m[f"{name}.calls"] = len(ss) / n
    m["caching.engine_cache.calls"] = len(by_name("caching.engine_cache")) / n
    layer = [workload.layer[i] for i in traced_ops]
    m["caching.released"] = sum(x.get("released", 0) for x in layer) / n
    m["sinks.files_written"] = sum(x["files_written"] for x in layer) / n
    m["sinks.bytes_written_mb"] = sum(x["bytes_written"] for x in layer) / n / 2**20

    progress = [p for x in layer for p in x.get("progress", [])]
    trig = [p["ms"].get("triggerExecution", 0) for p in progress]
    add = [p["ms"].get("addBatch", 0) for p in progress]
    m["streaming.batches"] = len(progress) / n
    m["streaming.trigger_ms_p50"] = statistics.median(trig) if trig else 0
    m["streaming.add_batch_ms_p50"] = statistics.median(add) if add else 0
    m["streaming.overhead_ms_p50"] = (
        statistics.median(t - a for t, a in zip(trig, add)) if trig else 0)

    owned = attribute_jobs(spans, log, tracer.epoch_offset) if log else {}
    below = descendants(spans)
    process = by_name("streaming.hot_marts.process")
    m["streaming.hot_marts.spark_jobs_per_batch"] = (
        sum(len(owned.get(s["id"], [])) for s in process) / len(process) if process else 0)
    for name in ENGINE_SPANS:
        job_ids = sorted({j for s in by_name(name) for d in below[s["id"]]
                          for j in owned.get(d, [])})
        counts = engine_counts(job_ids, log) if log else {k: 0 for k in ENGINE_COUNTS}
        for k in ENGINE_COUNTS:
            m[f"{name}.{k}"] = counts[k] if k == "task_skew" else counts[k] / n
    return m


def record_path(workload: str, seed: int, trace: int) -> str:
    return os.path.join(ROOT, ".perfbench_out", f"{workload}-seed{seed}-trace{trace}.json")


def earlier_record(workload: str, seed: int, trace: int) -> dict:
    """The recorded run of `workload` with this seed and trace flag, or {}."""
    try:
        with open(record_path(workload, seed, trace)) as fh:
            return json.load(fh)
    except (FileNotFoundError, json.JSONDecodeError):
        return {}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ in {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    sys.path[:0] = [ROOT, HERE]
    import workloads
    from tracing import Tracer, read_event_log

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # everything the run writes stays in the checkout: inputs, Spark scratch,
    # checkpoints (tempfile), warehouse and event log
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tempfile.tempdir = f"{work}/tmp"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)

    pss = PssSampler()
    spark = None
    try:
        wl = workloads.WORKLOADS[args.workload](work, args.seed)
        gen_s = []
        for _ in range(SETUP_REPEATS):
            shutil.rmtree(wl.inputs, ignore_errors=True)
            t = time.perf_counter()
            sizes = wl.generate()
            gen_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        spark = start_spark(work, bool(args.trace))
        session_s = time.perf_counter() - t
        tracer = Tracer(spark)
        wl.start(spark, tracer)
        setup_s = session_s + statistics.median(gen_s)
        if args.trace:
            install_spans(tracer)

        attempted = failed = 0
        durations: list[float] = []
        cpu: list[float] = []  # process-tree CPU seconds per call
        host: list[dict] = []  # machine-wide CPU ticks per call, by state

        def call(i) -> bool:
            nonlocal attempted, failed
            tracer.enabled = bool(args.trace)
            attempted += 1
            c, h = tree_cpu_s(os.getpid()), host_cpu_ticks()
            t = time.perf_counter()
            try:
                wl.summaries.append(wl.op(i))
            except Exception:  # noqa: BLE001 - counted, reported
                failed += 1
                print(f"perfbench: call {i} failed:\n{traceback.format_exc()}", file=sys.stderr)
                return False
            finally:
                tracer.enabled = False
            durations.append(time.perf_counter() - t)
            cpu.append(tree_cpu_s(os.getpid()) - c)
            host_end = host_cpu_ticks()
            host.append({k: host_end[k] - h[k] for k in h})
            wl.finish_op(i)
            return True

        # memory is the peak over the timed calls only: set-up and the
        # checks below (DuckDB, pandas) are not the program's footprint
        pss.start()
        t_measure = time.perf_counter()
        while call(len(durations)):
            if (time.perf_counter() - t_measure >= args.seconds
                    or time.perf_counter() - t_measure > DEADLINE_S):
                break
        pss.stop()
        last = len(durations) - 1

        t_checks = time.perf_counter()
        checks = []
        if last >= 0:
            try:
                checks = wl.checks(last)
            except Exception as exc:  # noqa: BLE001 - counted, reported
                print(f"perfbench: checks failed:\n{traceback.format_exc()}", file=sys.stderr)
                checks = [("checks_ran", False, repr(exc))]
        # the same seed gives the same inputs, so the same job summary
        summaries = [json.dumps(x, sort_keys=True) for x in wl.summaries]
        if len(summaries) > 1:
            checks.append(("summary_same_every_call", len(set(summaries)) == 1,
                           f"{len(set(summaries))} distinct over {len(summaries)} calls"))
        for trace in (0, 1):
            earlier = earlier_record(args.workload, args.seed, trace).get("summaries")
            if earlier and summaries:
                then = json.dumps(earlier[0], sort_keys=True)
                checks.append(("summary_matches_earlier_run", summaries[0] == then,
                               f"this run {summaries[0]}, earlier run {then}"))
                break
        attempted += len(checks)
        failed += sum(1 for _, ok, _ in checks if not ok)
        checks_s = time.perf_counter() - t_checks

        e2e = {
            "rows_per_s": (wl.rows() * len(durations) / sum(durations)) if durations else 0.0,
            "setup_s": setup_s,
            "peak_pss_mb": pss.peak / 2**20,
        }
        layer = None
        if args.trace:
            tracer.unwrap_all()
            stop_spark(spark)
            spark = None
            logs = sorted(os.listdir(f"{work}/eventlog"))
            log = read_event_log(f"{work}/eventlog/{logs[0]}") if logs else None
            layer = layer_metrics(tracer, wl, list(range(len(durations))), log)
            layer["trace.bookkeeping_s"] = tracer.own_s / max(1, len(durations))
            untraced = earlier_record(args.workload, args.seed, 0).get("call_durations_s")
            if untraced and durations:
                layer["trace.overhead_ratio"] = sum(durations) / sum(untraced[:len(durations)]) - 1
            layer.update({
                "session.start_s": session_s,
                "setup.input_gen_s": statistics.median(gen_s),
            })
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        stop_s = time.perf_counter() - t_stop
        if pss.is_alive():
            pss.stop()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run is using it

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layer if args.trace else e2e
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "inputs": sizes, "input_rows_per_op": wl.rows(),
        "call_durations_s": durations, "call_cpu_s": cpu, "call_host_ticks": host,
        "setup": {"session_start_s": session_s, "input_gen_s": gen_s},
        "checks_s": checks_s, "stop_s": stop_s, "run_s": time.perf_counter() - T_START,
        "summaries": wl.summaries, "checks": checks,
        "attempted": attempted, "failed": failed,
        "end_to_end": e2e, "per_layer": layer,
        "peak_pss_by_process_mb": {k: b / 2**20 for k, b in pss.peak_by_process.items()},
        "spans": tracer.spans if args.trace else None,
    }
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    with open(record_path(args.workload, args.seed, args.trace), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    print(f"workload {args.workload}  seed {args.seed}  inputs {json.dumps(sizes)}")
    print(f"calls: {len(durations)} timed" + (" (traced)" if args.trace else "")
          + f"  durations_s {[round(d, 3) for d in durations]}")
    for name, ok, detail in checks:
        print(f"check {'PASS' if ok else 'FAIL'} {name}: {detail}")
    print(f"ops_failed_ratio {failed / attempted:.6f} ({failed}/{attempted})")
    if not args.trace:
        for name, val in e2e.items():
            print(f"e2e {name} {val:.4f} {units.get(name, '')}")
    if layer:
        for name, val in layer.items():
            print(f"layer {name} {val:.6g} {units.get(name, '')}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
