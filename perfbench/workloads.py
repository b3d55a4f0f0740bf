"""The workloads.  Each defines one op, the check of its output and its
layer figures; ``Workload`` runs the ops, records them and, in a traced
run, wraps the program's public functions in spans.

An op's latency covers only the op.  Its check, and the deletion of its
outputs, run after the op returned and before the next one starts; the
measured interval is the sum of the op intervals, so it holds nothing
else.
"""

from __future__ import annotations

import glob
import hashlib
import os
import random
import shutil
import statistics
import time

import checks
import eventlog
from spans import Tracer, patch_everywhere, restore
from stats import OpLog

#: every per-layer metric a traced run reports; a layer that does not
#: run in a workload reports 0
LAYER_METRICS = (
    "session.start_s", "session.warmup_s",
    "catalog.load_table_s", "catalog.plan_cache_hits", "catalog.scan_s",
    "catalog.scan_tasks", "catalog.split_use_ratio",
    "spec.build_s", "spec.build_jobs", "tablespecs.transform_s",
    "hwm.capture_s", "hwm.capture_jobs", "hwm.commit_s",
    "fanout.sink_s.jsonl", "fanout.sink_s.parquet", "fanout.failures",
    "sinks.serialize_s", "sinks.commit_s", "sinks.files_written", "sinks.bytes_per_row",
    "pipeline.start_s", "pipeline.await_s", "pipeline.batches_per_op",
    "pipeline.input_rows_per_op", "pipeline.trigger_s", "pipeline.latest_offset_s",
    "pipeline.get_batch_s", "pipeline.query_planning_s", "pipeline.add_batch_s",
    "pipeline.wal_commit_s", "pipeline.commit_offsets_s", "pipeline.checkpoint_files",
    "registry.build_s", "registry.exec_s", "registry.jobs_per_op",
    "dedup.jobs_per_op", "dedup.pairs_s", "dedup.pairs_capped_s", "dedup.clusters_s",
    "app.overhead_s",
    "spark.pre_job_s", "spark.job_gap_s", "spark.executor_run_s", "spark.executor_cpu_s",
    "spark.gc_s", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.tasks",
)

#: span name → per-layer metric (time per measured op)
_SPAN_METRICS = {
    "catalog.load_table": "catalog.load_table_s",
    "spec.build": "spec.build_s",
    "hwm.capture": "hwm.capture_s",
    "hwm.commit": "hwm.commit_s",
    "fanout.sink.jsonl": "fanout.sink_s.jsonl",
    "fanout.sink.parquet": "fanout.sink_s.parquet",
    "pipeline.start": "pipeline.start_s",
    "pipeline.await": "pipeline.await_s",
    "registry.build": "registry.build_s",
    "registry.exec": "registry.exec_s",
}
#: counts recorded per op under the metric's own name
_COUNT_METRICS = (
    "catalog.plan_cache_hits", "fanout.failures", "sinks.files_written",
    "pipeline.batches_per_op", "pipeline.input_rows_per_op", "pipeline.checkpoint_files",
)
#: streaming progress ``durationMs`` keys → per-layer metric
_DURATIONS = {
    "triggerExecution": "pipeline.trigger_s",
    "latestOffset": "pipeline.latest_offset_s",
    "getBatch": "pipeline.get_batch_s",
    "queryPlanning": "pipeline.query_planning_s",
    "addBatch": "pipeline.add_batch_s",
    "walCommit": "pipeline.wal_commit_s",
    "commitOffsets": "pipeline.commit_offsets_s",
}
#: job-group prefix → per-layer job count per op
_JOB_METRICS = {
    "spec.build": "spec.build_jobs",
    "hwm.capture": "hwm.capture_jobs",
    "registry.": "registry.jobs_per_op",
}

PROBE_REPS = 3
GROUP_KEY = "spark.jobGroup.id"


class CheckFailed(Exception):
    """An op's output is wrong."""


def _files(path: str) -> list[str]:
    """Data files under ``path`` (Spark's ``_SUCCESS`` and ``.crc`` skipped)."""
    return [
        p
        for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "_"))
    ]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    #: fixed warm-up, sized from the op-latency drift of a fresh session
    warmup_ops = 0

    def __init__(self, spark, cfg: dict, tracer: Tracer):
        self.spark = spark
        self.cfg = cfg
        self.tracer = tracer
        self.inputs = cfg["inputs"]
        self.log = OpLog()
        self.warmup_errors: dict[str, str] = {}
        self.warmup_latencies: list[float] = []
        self.check_s = 0.0
        self.notes: dict[str, object] = {}  # printed with the run's report
        self._undo: list = []

    # --- per-workload hooks ------------------------------------------
    def load(self) -> None:
        """Build input plans; part of set-up, before the warm-up."""

    def op(self, label) -> None:
        """Run one op (``label``: an int when measured, ``w<i>`` in warm-up)."""
        raise NotImplementedError

    def verify(self, label) -> int:
        """Check one op's output, untimed; return the verified output
        rows, or raise ``CheckFailed``."""
        return 0

    def finish(self) -> None:
        """After the measured phase: checks that run once per run."""

    def instrument(self) -> None:
        """Wrap the program's functions this workload calls (traced runs)."""
        self._wrap_load_table()

    def probes(self) -> dict[str, float]:
        """Layer probes of a traced run, after the measured phase."""
        return {}

    def extra_layers(self, ops: set[str]) -> dict[str, float]:
        return {}

    # --- running ops -------------------------------------------------
    def timed_op(self, label) -> None:
        error = None
        with self.tracer.op_span(str(label)):
            t0 = time.perf_counter()
            try:
                self.op(label)
            except Exception as exc:  # noqa: BLE001 - an op failure is a result
                error = f"{type(exc).__name__}: {exc}"[:300]
            t1 = time.perf_counter()
        if isinstance(label, int):
            self.log.record(label, t0, t1, error)
        elif error is not None:
            self.warmup_errors[label] = error
        else:
            self.warmup_latencies.append(t1 - t0)

    def check(self, label) -> None:
        if label in self.log.errors or str(label) in self.warmup_errors:
            return
        t0 = time.perf_counter()
        try:
            rows = self.verify(label)
        except CheckFailed as exc:
            self._failed(label, str(exc)[:300])
            return
        except Exception as exc:  # noqa: BLE001 - a check that cannot run fails the op
            self._failed(label, f"check: {type(exc).__name__}: {exc}"[:300])
            return
        finally:
            self.check_s += time.perf_counter() - t0
        if isinstance(label, int):
            self.log.rows[label] = rows

    def _failed(self, label, why: str) -> None:
        if isinstance(label, int):
            self.log.fail(label, why)
        else:
            self.warmup_errors[str(label)] = why

    # --- traced runs -------------------------------------------------
    def _patch(self, owner, attr: str, replacement) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def _wrap_load_table(self) -> None:
        from cassandra_extractor_spark.sources import catalog

        t = self.tracer
        load_table = catalog.load_table

        def traced(spark, name, sf_dir=None):
            before = set(spark.__dict__.get("_ce_table_plans", {}))
            with t.span("catalog.load_table"):
                df = load_table(spark, name, sf_dir)
            if not set(spark.__dict__.get("_ce_table_plans", {})) - before:
                t.count("catalog.plan_cache_hits")
            return df

        self._undo += patch_everywhere(catalog, "load_table", traced)

    def uninstrument(self) -> None:
        restore(self._undo)
        self._undo = []

    def layer_record(self, start_s: float, warmup_s: float, ops: list[str]) -> dict:
        """Per-layer figures from the spans, per measured op; runs the
        probes, so the session must still be up."""
        self.uninstrument()
        t = self.tracer
        n = max(1, len(ops))
        ops_set = set(ops)
        rec = {k: 0.0 for k in LAYER_METRICS}
        rec["session.start_s"] = start_s
        rec["session.warmup_s"] = warmup_s
        for span, metric in _SPAN_METRICS.items():
            rec[metric] = t.total(span, ops_set) / n
        for metric in (*_COUNT_METRICS, *_DURATIONS.values()):
            rec[metric] = t.counted(metric, ops_set) / n
        rows = t.counted("sinks.rows", ops_set)
        rec["sinks.bytes_per_row"] = t.counted("sinks.bytes", ops_set) / rows if rows else 0.0
        rec.update(self.extra_layers(ops_set))
        rec.update(self.probes())
        return rec

    def engine_record(self, log_dir: str, ops: list[str]) -> dict:
        """Charge the event log's jobs to layers; runs after the session
        stopped, so the log is complete."""
        logs = sorted(glob.glob(os.path.join(log_dir, "*")))
        groups = eventlog.parse_file(logs[-1]) if logs else {}
        n = max(1, len(ops))
        ops_set = set(ops)
        layers: dict[str, eventlog.GroupStats] = {}
        total = eventlog.GroupStats()
        for gid, g in groups.items():
            layer, _, op = self.tracer.group_alias.get(gid, gid).rpartition("#")
            if op == "probe":
                _add(layers.setdefault(layer, eventlog.GroupStats()), g)
            elif op in ops_set:
                _add(layers.setdefault(layer, eventlog.GroupStats()), g)
                _add(total, g)
        rec = {f"spark.{k}": getattr(total, k) / n for k in (
            "pre_job_s", "job_gap_s", "executor_run_s", "executor_cpu_s", "gc_s",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "tasks",
        )}
        for prefix, metric in _JOB_METRICS.items():
            rec[metric] = sum(g.jobs for k, g in layers.items() if k.startswith(prefix)) / n
        # the chain is rebuilt once, by the probe: its jobs are per rebuild
        rec["dedup.jobs_per_op"] = sum(
            g.jobs for k, g in layers.items() if k.startswith("dedup.")
        )
        scan = layers.get("probe.scan")
        if scan is not None and scan.scan_tasks:
            rec["catalog.scan_tasks"] = scan.scan_tasks / PROBE_REPS
            rec["catalog.split_use_ratio"] = scan.tasks_with_input / scan.scan_tasks
        # sink commit: from the sink's last job end to the sink call's return
        commit = 0.0
        for s in self.tracer.spans:
            g = groups.get(f"{s.name}#{s.op}")
            if s.name.startswith("fanout.sink.") and s.op in ops_set and g and g.job_times:
                commit += max(0.0, s.end - max(end for _, end in g.job_times))
        rec["sinks.commit_s"] = commit / n
        return rec


def _add(acc: eventlog.GroupStats, g: eventlog.GroupStats) -> None:
    for k, v in g.as_dict().items():
        setattr(acc, k, getattr(acc, k) + v)


def _probe(spark, name: str, make_df) -> float:
    """Median wall of ``PROBE_REPS`` ``noop`` writes of ``make_df()``,
    their jobs grouped as ``probe.<name>``."""
    times = []
    sc = spark.sparkContext
    prev = sc.getLocalProperty(GROUP_KEY)
    sc.setLocalProperty(GROUP_KEY, f"probe.{name}#probe")
    try:
        for _ in range(PROBE_REPS):
            t0 = time.perf_counter()
            _noop(make_df())
            times.append(time.perf_counter() - t0)
    finally:
        sc.setLocalProperty(GROUP_KEY, prev)
    return statistics.median(times)


def _extract_probes(spark, scanned, specced) -> dict[str, float]:
    """Scan, scan + spec, and scan + spec + ``to_json``: the extract's
    layers as differences of three ``noop`` probes."""
    from pyspark.sql import functions as F

    def serialized():
        d = specced()
        return d.select(F.to_json(F.struct(*d.columns)).alias("value"))

    scan = _probe(spark, "scan", scanned)
    spec = _probe(spark, "spec", specced)
    ser = _probe(spark, "serialize", serialized)
    return {
        "catalog.scan_s": scan,
        "tablespecs.transform_s": spec - scan,
        "sinks.serialize_s": ser - spec,
    }


def _count_outputs(tracer: Tracer, label, files: list[str], rows: int) -> None:
    tracer.op = str(label)
    tracer.count("sinks.files_written", len(files))
    tracer.count("sinks.bytes", sum(os.path.getsize(p) for p in files))
    tracer.count("sinks.rows", rows)


# ---------------------------------------------------------------------------
class BulkExtract(Workload):
    """``app.main`` batch runs over a split, permuted ``lineitem``: one op
    is a filtered, table-spec'd, HWM-bounded extract to two sinks."""

    name = "bulk_extract"
    warmup_ops = 3
    PREDICATE = "l_quantity > 5"
    #: rename and remove, as ``checks.BULK_COLUMNS`` expects
    TABLE_SPEC = {
        "columns": [
            {"name": "l_tax", "remove": True},
            {"name": "l_linestatus", "remove": True},
            {"name": "l_extendedprice", "renameTo": "extended_price"},
        ]
    }

    def load(self) -> None:
        from cassandra_extractor_spark import app
        from cassandra_extractor_spark.sources.catalog import load_table

        self.app = app
        self.sf_dir = self.inputs["bulk_dir"]
        self.out_root = os.path.join(self.cfg["work"], "out")
        load_table(self.spark, "lineitem", self.sf_dir)
        self.expected = tuple(self.inputs["bulk_expected"])
        self.notes["reference rows"] = self.expected[0]

    def op(self, label) -> None:
        out = os.path.join(self.out_root, str(label))
        rc = self.app.main([
            "-T", "lineitem",
            "--sf-dir", self.sf_dir,
            "--output", out,
            "--filter", self.PREDICATE,
            "--table-specs", self.inputs["table_specs"],
            "--hwm-column", "l_shipdate",
            "--hwm-state", os.path.join(out, "_hwm.json"),  # fresh state per op
            "--sinks", "jsonl,parquet",
        ])
        if rc != 0:
            raise RuntimeError(f"app.main returned {rc}")

    def verify(self, label) -> int:
        out = os.path.join(self.out_root, str(label))
        jsonl, parquet = os.path.join(out, "lineitem"), os.path.join(out, "lineitem_parquet")
        con = checks.connect()
        try:
            got = {
                "jsonl": checks.digest(
                    con, checks.json_relation(f"{jsonl}/*.json", checks.BULK_COLUMNS),
                    checks.BULK_COLUMNS,
                ),
                "parquet": checks.digest(
                    con, checks.parquet_relation(f"{parquet}/*.parquet"), checks.BULK_COLUMNS
                ),
            }
        finally:
            con.close()
        _count_outputs(self.tracer, label, _files(jsonl) + _files(parquet),
                       2 * self.expected[0])
        shutil.rmtree(out, ignore_errors=True)
        bad = {k: v for k, v in got.items() if v != self.expected}
        if bad:
            raise CheckFailed(f"sink output {bad} != reference {self.expected}")
        return self.expected[0]

    def instrument(self) -> None:
        from cassandra_extractor_spark import app
        from cassandra_extractor_spark.plans import spec as spec_mod
        from cassandra_extractor_spark.streaming import hwm

        super().instrument()
        t = self.tracer
        self._undo += patch_everywhere(
            hwm, "capture_hwm", t.wrap(hwm.capture_hwm, "hwm.capture")
        )
        plan_incremental = spec_mod.plan_incremental

        def traced_plan(*a, **kw):
            out, commit = plan_incremental(*a, **kw)
            return out, t.wrap(commit, "hwm.commit")

        self._patch(spec_mod, "plan_incremental", traced_plan)
        self._patch(spec_mod.ExtractionSpec, "build",
                    t.wrap(spec_mod.ExtractionSpec.build, "spec.build"))
        fan_out = app.fan_out

        def traced_fan_out(df, sinks, *a, **kw):
            wrapped = {k: t.wrap(w, f"fanout.sink.{k}") for k, w in sinks.items()}
            with t.span("fanout", group=False):
                results = fan_out(df, wrapped, *a, **kw)
            t.count("fanout.failures", sum(1 for v in results.values() if v is not None))
            return results

        self._patch(app, "fan_out", traced_fan_out)

    def extra_layers(self, ops: set[str]) -> dict[str, float]:
        # the app's own time: the op minus its spec, fan-out and commit spans
        t = self.tracer
        inner = ("spec.build", "fanout", "hwm.commit")
        own = t.total("op", ops) - sum(t.total(name, ops) for name in inner)
        return {"app.overhead_s": own / max(1, len(ops))}

    def probes(self) -> dict[str, float]:
        from cassandra_extractor_spark.plans.spec import ExtractionSpec
        from cassandra_extractor_spark.sources.catalog import load_table

        spec = ExtractionSpec(table="lineitem", filter=self.PREDICATE,
                              table_spec=self.TABLE_SPEC)
        return _extract_probes(
            self.spark,
            lambda: load_table(self.spark, "lineitem", self.sf_dir),
            lambda: spec.build(self.spark, self.sf_dir),
        )


# ---------------------------------------------------------------------------
class StreamResume(Workload):
    """A scheduler's ``availableNow`` resumes over a growing ``events``
    directory: each op lands one staged delta file, then runs
    ``stream_extract`` against the same checkpoint with an
    ``ExtractionSpec`` transform and a per-batch ``write_jsonl`` sink."""

    name = "stream_resume"
    warmup_ops = 20
    PREDICATE = "event_type <> 'error'"
    TABLE_SPEC = {
        "columns": [
            {"name": "props", "remove": True},
            {"name": "value", "renameTo": "amount"},
        ]
    }

    def load(self) -> None:
        from cassandra_extractor_spark.plans.spec import ExtractionSpec
        from cassandra_extractor_spark.sinks.jsonl import write_jsonl
        from cassandra_extractor_spark.streaming.pipeline import stream_extract

        self.stream_extract = stream_extract
        self.write_jsonl = write_jsonl
        self.stage = self.inputs["stage_dir"]
        self.deltas = sorted(os.listdir(self.stage))
        work = self.cfg["work"]
        self.src = os.path.join(work, "stream_src")
        self.out = os.path.join(work, "stream_out")
        self.ckpt = os.path.join(work, "stream_ckpt")
        os.makedirs(self.src, exist_ok=True)
        self.schema = self.spark.read.parquet(os.path.join(self.stage, self.deltas[0])).schema
        self.spec = ExtractionSpec(table="events", filter=self.PREDICATE,
                                   table_spec=self.TABLE_SPEC)
        self.landed = 0
        self.batches: list[int] = []
        self.seen: set[int] = set()

    def _write(self, d, batch_id: int) -> None:
        with self.tracer.span("fanout.sink.jsonl"):
            self.write_jsonl(d, os.path.join(self.out, f"batch={batch_id}"))
        self.batches.append(batch_id)

    def op(self, label) -> None:
        if self.landed >= len(self.deltas):
            raise RuntimeError("out of staged deltas")
        name = self.deltas[self.landed]
        os.replace(os.path.join(self.stage, name), os.path.join(self.src, name))
        self.landed += 1
        spark, spec, t = self.spark, self.spec, self.tracer

        def transform(d):
            return spec.build(spark, source_df=d)

        with t.span("pipeline.start"):
            q = self.stream_extract(
                spark, self.src, self.schema, {"jsonl": self._write}, self.ckpt,
                transform=t.wrap(transform, "spec.build"),
            )
        t.group_alias[str(q.runId)] = f"pipeline#{label}"
        with t.span("pipeline.await", group=False):
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        self.query = q

    def verify(self, label) -> int:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        delta = pq.read_table(os.path.join(self.src, self.deltas[self.landed - 1]))
        kept = delta.filter(pc.not_equal(delta.column("event_type"), "error"))
        want = set(kept.column("event_id").to_pylist())
        dirs = [os.path.join(self.out, f"batch={b}") for b in self.batches]
        self.batches = []
        parts = [d for d in dirs if glob.glob(os.path.join(d, "*.json"))]
        got: list[int] = []
        if parts:
            con = checks.connect()
            try:
                rel = " UNION ALL ".join(
                    "SELECT event_id FROM "
                    + checks.json_relation(os.path.join(d, "*.json"), {"event_id": "BIGINT"})
                    for d in parts
                )
                got = [r[0] for r in con.execute(rel).fetchall()]
            finally:
                con.close()
        t = self.tracer
        if t.enabled:  # progress and checkpoint figures of a traced run
            _count_outputs(t, label, [p for d in dirs for p in _files(d)], len(got))
            progress = self.query.recentProgress
            t.count("pipeline.batches_per_op", sum(1 for p in progress if p.numInputRows))
            t.count("pipeline.input_rows_per_op", sum(p.numInputRows for p in progress))
            for p in progress:
                for key, metric in _DURATIONS.items():
                    t.count(metric, (p.durationMs or {}).get(key, 0) / 1000.0)
            t.count("pipeline.checkpoint_files", len(_files(self.ckpt)))
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
        if len(got) != len(set(got)):
            raise CheckFailed("a delta row was emitted twice")
        if set(got) & self.seen:
            raise CheckFailed("rows of an earlier op came back")
        if set(got) != want:
            raise CheckFailed(f"emitted {len(got)} rows, expected {len(want)}")
        self.seen |= want
        return len(want)

    def probes(self) -> dict[str, float]:
        def scanned():
            return self.spark.read.schema(self.schema).parquet(self.src)

        return _extract_probes(
            self.spark, scanned, lambda: self.spec.build(self.spark, source_df=scanned())
        )


# ---------------------------------------------------------------------------
#: the session's queries: relational and TPC-H registry entries, each
#: under a second (the per-query floor)
QUERY_POOL = (
    "q04_count", "q09_rename_project", "q03_string_filter", "q21_count_distinct",
    "q14_having", "q17_semi_join", "q23_window_running_sum", "q32_event_agg",
    "q15_inner_join", "tpch_q06", "tpch_q14", "tpch_q12",
)
#: clusters of the fixed base corpus (``datagen.BASE_VERSION`` 2): rows
#: and the first 16 hex digits of their canonical hash
CHAIN_EXPECTED = (805, "d17d3e9e41babf53")


class QueryMix(Workload):
    """An analysis session over the sf0.1-shaped base tables: one op is
    one pass over the registry queries of ``QUERY_POOL`` in a seed-chosen
    order, each a registry build plus a ``noop`` write, so every op times
    the same queries.

    The first warm-up op collects each query's result for the oracle
    check (DuckDB runs after the measured phase); the other two do what
    a measured op does.  A traced run also rebuilds the session's near-dup chain
    (the dedup layer) after the phase.
    """

    name = "query_mix"
    warmup_ops = 3

    def load(self) -> None:
        from cassandra_extractor_spark import registry
        from cassandra_extractor_spark.sources.catalog import TABLES, load_table

        self.registry = registry
        self.sf_dir = self.inputs["base_dir"]
        self.tables = [
            t for t in TABLES if os.path.exists(os.path.join(self.sf_dir, f"{t}.parquet"))
        ]
        for t in self.tables:
            load_table(self.spark, t, self.sf_dir)
        self.names = list(QUERY_POOL)
        random.Random(self.cfg["seed"]).shuffle(self.names)
        self.repo_check = checks.load_repo_check(self.cfg["root"])
        self.spark_hash: dict[str, tuple[int, str]] = {}
        self.notes["query order"] = " ".join(self.names)

    def op(self, label) -> None:
        t = self.tracer
        for name in self.names:
            fn = self.registry.QUERIES[name]
            if label == "w0":
                df = fn(self.spark, self.sf_dir)
                rows = self.repo_check.pandas_rows(df.toPandas())
                self.spark_hash[name] = self.repo_check.canon_hash(df.columns, rows)
                continue
            with t.span("registry.build"):
                df = fn(self.spark, self.sf_dir)
            with t.span("registry.exec"):
                _noop(df)

    def verify(self, label) -> int:
        # measured ops write to ``noop``: their rows are the result rows
        # the first warm-up op collected (and ``finish`` checks)
        return sum(self.spark_hash[name][0] for name in self.names)

    def finish(self) -> None:
        """Compare each query's collected result with its DuckDB oracle,
        canonicalized as the repository's ``tools/check.py`` does; a
        wrong query fails every op, since every op ran it."""
        con = checks.connect()
        try:
            checks.oracle_views(con, self.sf_dir, self.tables)
            wrong: list[str] = []
            for name, got in self.spark_hash.items():
                res = con.execute(self.registry.ORACLES[name])
                cols = [d[0] for d in res.description]
                want = self.repo_check.canon_hash(
                    cols, self.repo_check.pandas_rows(res.fetchdf())
                )
                if got != want:
                    wrong.append(f"{name}: spark {got} != oracle {want}")
        finally:
            con.close()
        if wrong:
            why = "; ".join(wrong)[:300]
            for op in list(self.log.latencies):
                self.log.fail(op, why)
            self.warmup_errors["w0"] = why

    def probes(self) -> dict[str, float]:
        from cassandra_extractor_spark.sources.catalog import load_table

        rec = {
            "catalog.scan_s": _probe(
                self.spark, "scan", lambda: load_table(self.spark, "lineitem", self.sf_dir)
            )
        }
        rec.update(self._chain_probe())
        return rec

    def _chain_probe(self) -> dict[str, float]:
        """Drop and rebuild the session's near-dup chain over
        ``documents``: both pair policies, then the clusters.  The first
        build is cold; the second is the one reported.  Both must give
        the pinned cluster hash."""
        from cassandra_extractor_spark.operators import dedup as d

        spark, sf, t = self.spark, self.sf_dir, self.tracer
        steps = (
            ("dedup.invalidate", lambda: d.invalidate_dedup_chain(spark, sf)),
            ("dedup.pairs", lambda: d.shared_pairs(spark, sf)),
            ("dedup.pairs_capped", lambda: d.shared_pairs(spark, sf, max_bucket=64)),
            ("dedup.clusters", lambda: d.shared_clusters(spark, sf)),
        )
        for build in ("cold", "probe"):
            t.op = build
            for name, step in steps:
                with t.span(name):
                    clusters = step()
            pdf = clusters.toPandas()
            lines = sorted(f"{a}\x1f{b}" for a, b in zip(pdf["doc_id"], pdf["cluster_id"]))
            h = (len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16])
            self.notes[f"cluster hash ({build})"] = h
            if h != CHAIN_EXPECTED:
                self.warmup_errors[f"dedup {build}"] = f"cluster hash {h} != {CHAIN_EXPECTED}"
        return {
            f"{name}_s": t.total(name, {"probe"})
            for name in ("dedup.pairs", "dedup.pairs_capped", "dedup.clusters")
        }


WORKLOADS = {w.name: w for w in (BulkExtract, StreamResume, QueryMix)}
