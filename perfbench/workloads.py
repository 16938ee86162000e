"""The benchmark workloads: seeded inputs, one timed operation, and the
correctness checks run after the timed region.

A workload drives the program's public jobs from outside. `op(i)` is one
operation as a user runs it and writes only under its own output
directory; `checks(last)` returns (name, ok, detail) triples about the
last operation's output.
"""

from __future__ import annotations

import glob
import json
import os
import time

import gen

AS_OF = "2024-01-31 00:00:00"  # operators.marts.AS_OF_STR: the hot marts' "now"


def dir_usage(path: str, skip: tuple[str, ...] = ()) -> tuple[int, int]:
    """(files, bytes) under `path`, ignoring subtrees named in `skip`."""
    files = size = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if d not in skip]
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def file_batches(ckpt: str) -> dict[int, list[str]]:
    """batch id -> the files it consumed, from a checkpoint's file-source
    log (one JSON entry per file after a version line)."""
    out = {}
    for path in glob.glob(f"{ckpt}/sources/0/*"):
        name = os.path.basename(path)
        if not name.isdigit():
            continue
        with open(path) as fh:
            lines = fh.read().splitlines()[1:]
        out[int(name)] = [os.path.basename(json.loads(x)["path"]) for x in lines if x]
    return out


class Workload:
    name = ""

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.inputs = os.path.join(work, "in")
        self.summaries: list[dict] = []
        self.layer: list[dict] = []  # per-op layer figures (sink usage, batches)
        self.progress: list[dict] = []  # every streaming micro-batch's progress

    def out(self, i) -> str:
        return os.path.join(self.work, "out", str(i))

    def generate(self) -> dict:
        raise NotImplementedError

    def start(self, spark, tracer) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark, self.tracer = spark, tracer
        progress = self.progress

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                progress.append({"run": str(p.runId), "batch": p.batchId,
                                 "ms": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

    def op(self, i) -> dict:
        raise NotImplementedError

    def rows(self) -> int:
        raise NotImplementedError

    def finish_op(self, i) -> None:
        """Record the sink usage of operation `i`: its output directory,
        checkpoints excluded."""
        files, size = dir_usage(self.out(i), skip=("ckpt",))
        self.layer[i].update(files_written=files, bytes_written=size)

    def wait_progress(self, seen: int, batches: int) -> list[dict]:
        """The progress events after index `seen`, once `batches` have
        arrived (they are posted asynchronously after each trigger)."""
        deadline = time.monotonic() + 5
        while len(self.progress) - seen < batches and time.monotonic() < deadline:
            time.sleep(0.05)
        return self.progress[seen:]

    def checks(self, last) -> list[tuple[str, bool, str]]:
        raise NotImplementedError


class MartBatch(Workload):
    """The reference's nightly cold path, then the hot marts catching up on
    the day's silver files: bronze archive of the JSON-lines wire log, the
    four cold marts published through the manifest sink, the serving load
    reading them back, and a micro-batch stream through the hot-mart
    processor (one silver file per trigger)."""

    name = "mart_batch"
    N_USERS = 750  # half the fixture's users: about 50,000 events
    WIRE_FILES = 4
    HOT_DAY = "2024-01-30"  # the fixture's last day: about 3,360 events
    HOT_FILES = 2

    def generate(self) -> dict:
        events = gen.event_table(self.seed, n_users=self.N_USERS)
        self.n_events = events.num_rows
        sizes = {"events": gen.write_table(events, f"{self.inputs}/events.parquet")}
        sizes["wire_log"] = gen.write_wire_log(
            events, f"{self.inputs}/wire", self.WIRE_FILES)
        hot = gen.silver_table(gen.event_table(self.seed, "hot", day=self.HOT_DAY))
        self.hot_files = {}
        per = -(-hot.num_rows // self.HOT_FILES)
        for f in range(self.HOT_FILES):
            path = f"{self.inputs}/silver/part-{f:04d}.parquet"
            self.hot_files[os.path.basename(path)] = gen.write_table(
                hot.slice(f * per, per), path)["rows"]
        self.n_hot = hot.num_rows
        files, size = dir_usage(f"{self.inputs}/silver")
        sizes["silver"] = {"rows": hot.num_rows, "bytes": size, "files": files}
        return sizes

    def rows(self) -> int:
        return self.n_events + self.n_hot

    def start(self, spark, tracer) -> None:
        super().start(spark, tracer)
        self.silver_schema = spark.read.parquet(f"{self.inputs}/silver").schema

    def hot_sink(self, df, table: str) -> None:
        from pyspark.sql import functions as F

        if table == "mart_traffic_minute":
            row = df.agg(F.count("*").alias("n"), F.sum("event_count").alias("s")).first()
            self._hot[table] = self._hot.get(table, 0) + row.n
            self._hot["event_count_sum"] = self._hot.get("event_count_sum", 0) + (row.s or 0)
        else:
            self._hot[table] = self._hot.get(table, 0) + df.count()

    def op(self, i) -> dict:
        from clinical_search_data_pipeline_spark.jobs import pipelines
        from clinical_search_data_pipeline_spark.sources import readers
        from clinical_search_data_pipeline_spark.streaming import hot_marts, runner

        out = self.out(i)
        bronze = pipelines.bronze_archive_job(
            self.spark, f"{self.inputs}/wire", f"{out}/bronze", as_of=AS_OF)
        etl = pipelines.mart_etl_job(
            readers.load_events(self.spark, self.inputs), f"{out}/marts", snapshot=True)
        loaded: dict[str, int] = {}
        pipelines.mart_load_job(
            self.spark, f"{out}/marts", tuple(pipelines.COLD_MART_BUILDERS),
            sink=lambda df, table: loaded.__setitem__(table, df.count()),
            snapshot=True)
        self._hot: dict[str, int] = {}
        stream = (self.spark.readStream.schema(self.silver_schema)
                  .option("maxFilesPerTrigger", 1).parquet(f"{self.inputs}/silver"))
        seen = len(self.progress)
        process = hot_marts.make_hot_mart_processor(self.hot_sink, as_of=AS_OF)

        def traced(batch_df, batch_id):
            with self.tracer.span("streaming.hot_marts.process", batch_id=batch_id):
                process(batch_df, batch_id)

        runner.run_foreach_batch(stream, traced, checkpoint_location=f"{out}/ckpt")
        batches = file_batches(f"{out}/ckpt")
        self.layer.append({"progress": self.wait_progress(seen, len(batches)),
                           "batches": batches})
        return {"bronze_rows": bronze, "marts": etl, "loaded": loaded, "hot": dict(self._hot)}

    def checks(self, last) -> list[tuple[str, bool, str]]:
        from clinical_search_data_pipeline_spark import registry
        from clinical_search_data_pipeline_spark.operators import marts  # noqa: F401 - registers the oracles
        from clinical_search_data_pipeline_spark.sinks import manifest
        from clinical_search_data_pipeline_spark.testing import compare_frames

        import duckdb

        s = self.summaries[last]
        res = [("bronze_rows_equal_input", s["bronze_rows"] == self.n_events,
                f"{s['bronze_rows']} vs {self.n_events}")]
        written = len(glob.glob(f"{self.out(last)}/bronze/*/*.parquet"))
        res.append(("bronze_files_written", written > 0, f"{written} files"))
        con = duckdb.connect()
        con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{self.inputs}/events.parquet')")
        for mart, query in (("mart_session_analysis", "q_session_analysis"),
                            ("mart_daily_traffic", "q_daily_traffic"),
                            ("mart_clinical_areas", "q_clinical_areas"),
                            ("mart_popular_documents", "q_popular_documents")):
            got = manifest.read_snapshot(self.spark, f"{self.out(last)}/marts/{mart}").toPandas()
            want = con.sql(registry.oracle_of(query)).df()
            errs = compare_frames(got, want)
            res.append((f"{mart}_matches_oracle", not errs, "; ".join(errs[:2]) or f"{len(got)} rows"))
        con.close()
        res.append(("load_equals_etl", s["loaded"] == s["marts"], f"{s['loaded']}"))
        # the checkpoint's file-source log, not numInputRows: Spark counts a
        # batch's input once per action on the batch frame
        consumed = sorted(f for files in self.layer[last]["batches"].values() for f in files)
        res.append(("silver_files_consumed_once", consumed == sorted(self.hot_files),
                    f"{consumed}"))
        total = s["hot"].get("event_count_sum", 0)
        res.append(("traffic_minute_sum_equals_events", total == self.n_hot,
                    f"{total} vs {self.n_hot}"))
        return res


class Curation(Workload):
    """The LLM-data curation path: the training-corpus export (quality
    filter, all-pairs Jaccard near-dup detection, connected components,
    decontamination against the eval slice, per-language token budget,
    seeded train order, one manifest publish), then stream admission of new
    documents through the seven gates (one manifest append per micro-batch).
    The admission job derives its gate indexes from the standing corpus
    itself, as it does when no published indexes are given."""

    name = "curation"
    N_EXPORT = 600  # documents exported
    GATE_CORPUS = 100  # standing corpus the gate indexes are derived from
    ADMIT_FILES = 1  # micro-batches (one staged file per trigger)
    ADMIT_PER_FILE = 200

    def generate(self) -> dict:
        sizes = {"export_documents": gen.write_table(
            gen.document_window(self.seed, self.N_EXPORT),
            f"{self.inputs}/export/documents.parquet")}
        # admission keeps fixture doc_ids: a planted media copy (id ending
        # in 8 or 9) refers to its block leader modulo the corpus split
        sizes["gate_corpus"] = gen.write_table(
            gen.document_window(self.seed, self.GATE_CORPUS, hi=self.GATE_CORPUS, shift=False),
            f"{self.inputs}/gates/documents.parquet")
        staged = gen.document_window(self.seed, self.ADMIT_FILES * self.ADMIT_PER_FILE,
                                     lo=2 * self.GATE_CORPUS, shift=False)
        per = self.ADMIT_PER_FILE
        for f in range(self.ADMIT_FILES):
            gen.write_table(staged.slice(f * per, per),
                            f"{self.inputs}/staging/part-{f:04d}.parquet")
        files, size = dir_usage(f"{self.inputs}/staging")
        sizes["staged"] = {"rows": staged.num_rows, "bytes": size, "files": files}
        return sizes

    def rows(self) -> int:
        return self.N_EXPORT + self.ADMIT_FILES * self.ADMIT_PER_FILE

    def op(self, i) -> dict:
        from clinical_search_data_pipeline_spark import caching
        from clinical_search_data_pipeline_spark.jobs import pipelines

        out = self.out(i)
        export = dict(pipelines.training_export_job(
            self.spark, f"{self.inputs}/export", f"{out}/export", snapshot=True))
        released = caching.release_caches()
        seen = len(self.progress)
        admission = dict(pipelines.ingest_admission_job(
            self.spark, f"{self.inputs}/gates", f"{out}/verdicts",
            corpus_split=self.GATE_CORPUS, snapshot_table=f"{out}/admitted",
            staging_dir=f"{self.inputs}/staging"))
        released += caching.release_caches()
        self.layer.append({"released": released,
                           "progress": self.wait_progress(seen, self.ADMIT_FILES)})
        return {"export": export, "admission": admission}

    def checks(self, last) -> list[tuple[str, bool, str]]:
        from pyspark.sql import functions as F

        from clinical_search_data_pipeline_spark.operators.curation import TOKEN_BUDGET
        from clinical_search_data_pipeline_spark.sinks import manifest

        s = self.summaries[last]
        export = manifest.read_snapshot(self.spark, f"{self.out(last)}/export")
        per_lang = {r.lang: r.t for r in export.groupBy("lang").agg(F.sum("n_tokens").alias("t")).collect()}
        res = [("tokens_within_budget",
                bool(per_lang) and all(t <= TOKEN_BUDGET for t in per_lang.values()),
                f"{per_lang} <= {TOKEN_BUDGET} per lang")]
        n = export.count()
        res.append(("export_rows_match_summary", n == s["export"]["docs_exported"] > 0, f"{n}"))
        evals = export.filter(F.col("doc_id") % gen.EVAL_MOD == 0).count()
        res.append(("no_eval_slice_exported", evals == 0, f"{evals} eval docs"))
        a = s["admission"]
        staged = self.ADMIT_FILES * self.ADMIT_PER_FILE
        res.append(("screened_equals_staged", a["docs_screened"] == staged,
                    f"{a['docs_screened']} vs {staged}"))
        res.append(("snapshot_rows_equal_admitted",
                    a["snapshot_rows"] == a["docs_admitted"] > 0,
                    f"{a['snapshot_rows']} vs {a['docs_admitted']}"))
        return res


WORKLOADS = {w.name: w for w in (MartBatch, Curation)}
