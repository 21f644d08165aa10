"""One fresh benchmark process: set up the engine, run operations, check them.

Started by ``perfbench/run.py`` as ``python3 -m perfbench.worker SPEC.json``;
results go to the JSON file the spec names.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback

from perfbench import checks, etl
from perfbench.trace import NULL_TRACER, PeakRss, Tracer, layer_metrics, read_event_log

#: llm_curation mix: registry query -> generated table it reads.  The first
#: entry is also the warm-up operation.
LLM_MIX = (
    ("dedup_embedding_cosine", "embeddings"),
    ("dedup_minhash_lsh", "documents"),
    ("dedup_jaccard_prefix_filter", "documents"),
)


class Run:
    """Operation log shared by both workloads."""

    def __init__(self, spec: dict, spark, tracer) -> None:
        self.spec, self.spark, self.tracer = spec, spark, tracer
        self.ops: list[dict] = []  # timed operations
        self.untraced_ops: list[dict] = []  # traced run: one operation again, untraced
        self.attempted, self.failures = 0, []

    def record(self, op_id: str, error: str | None) -> None:
        self.attempted += 1
        if error:
            self.failures.append({"op": op_id, "error": error})

    def guarded(self, op_id: str, fn):
        """Run ``fn``; an exception fails the operation instead of the run."""
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 - the failure is reported per operation
            self.record(op_id, f"{type(exc).__name__}: {exc}".splitlines()[0][:300])
            traceback.print_exc(file=sys.stderr)
            return None


class LlmCuration:
    """Registry queries over the generated corpus, each checked against its
    DuckDB oracle or, for rows-only queries, against invariants."""

    def __init__(self, run: Run) -> None:
        from projeto_de_etl_com_api_do_meta_spark.queries.registry import QUERIES

        self.run, self.queries = run, QUERIES
        self.data = run.spec["data_dir"]
        self.inputs = run.spec["inputs"]
        self.duck = None  # connected by the first oracle check, after set-up
        self.expected: dict[str, tuple] = {}

    def op(self, name: str, op_id: str, timed: bool) -> float | None:
        """Run one query; return its seconds, or None if it raised."""
        tr, spark = self.run.tracer, self.run.spark

        def body():
            with tr.span("op" if timed else "warmup", op_id):
                t0 = time.perf_counter()
                with tr.span("queries.build", op_id):
                    df = self.queries[name].fn(spark, self.data)
                with tr.span("queries.exec", op_id):
                    table = df.toArrow()
                return time.perf_counter() - t0, table

        out = self.run.guarded(op_id, body)
        spark.catalog.clearCache()
        if out is None:
            return None
        seconds, table = out
        if timed:
            rows_in = self.inputs[dict(LLM_MIX)[name]]
            self.run.ops.append({"op": op_id, "name": name, "seconds": seconds,
                                 "rows_in": rows_in, "rows_out": table.num_rows})
        self.run.record(op_id, self.run.guarded(op_id, lambda: self.check(name, table)))
        return seconds

    def check(self, name: str, table) -> str | None:
        if name == "dedup_minhash_lsh":
            return checks.minhash_pairs(table, self.inputs["documents"],
                                        [tuple(p) for p in self.run.spec["exact_dup_pairs"]])
        if self.duck is None:
            import duckdb

            self.duck = duckdb.connect()
            for t in ("documents", "embeddings"):
                self.duck.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')")
        if name not in self.expected:
            res = self.duck.execute(self.queries[name].oracle)
            self.expected[name] = checks.normalize([d[0] for d in res.description], res.fetchall())
        return checks.diff(checks.arrow_rows(table), self.expected[name])

    def warmup(self) -> float | None:
        """The first query cold (its seconds end set-up), then the rest of
        the mix once, untimed: a query's first execution (class loading,
        JIT, Python workers) took 2 to 3 times its later ones."""
        seconds = self.op(LLM_MIX[0][0], "warmup", timed=False)
        for i, (name, _table) in enumerate(LLM_MIX[1:], 1):
            self.op(name, f"warmup.{i}.{name}", timed=False)
        return seconds

    def timed_round(self, r: int) -> None:
        for i, (name, _table) in enumerate(LLM_MIX):
            self.op(name, f"r{r}.{i}.{name}", timed=True)

    def repeat_untraced(self, r: int) -> str:
        """The warm-up query once more, untraced; return the id of its traced
        run in round ``r``.  That run was its second execution and this is
        a later one, so neither pays the query's first-run costs."""
        name = LLM_MIX[0][0]
        self.op(name, f"r{r}.0.{name}.untraced", timed=True)
        return f"r{r}.0.{name}"


class AdsDailyEtl:
    """Simulated days of the Meta-Ads job into a local star schema.  Each
    timed day's target is checked against the pandas reference state; it
    also holds what the untimed load and warm-up day wrote."""

    def __init__(self, run: Run) -> None:
        self.run, self.p = run, run.spec["etl"]
        self.round_dir = ""
        self.warm_dir = os.path.join(run.spec["work_dir"], "target_warm")
        self.warm_days: list[dict] = []
        self.state: dict = {}
        self.days: list[dict] = []  # per-day sink figures, every round
        # Every round serves the same days in the same order, so a day's
        # pages, reference batch and reference state are computed once.
        self.inputs: dict[int, dict] = {}
        self.expected: dict[int, dict | None] = {}  # None: applied, not yet keyed

    def transport(self, day: int, load: bool) -> etl.SeededMetaTransport:
        """A fresh transport (its call counter at 0) for ``day``, its pages
        generated outside the timed region."""
        t = etl.SeededMetaTransport(self.run.spec["seed"], day, self.p["n_ads"],
                                    self.p["history_days"] - 1 if load else self.p["repull_days"])
        if day not in self.inputs:
            batch = etl.reference_tables(t)
            self.inputs[day] = {"pages": t.pages, "batch": batch, "rows_in": t.raw_row_count(),
                                "batch_rows": sum(len(df) for df in batch.values())}
        t._pages = self.inputs[day]["pages"]
        return t

    def restore(self, name: str) -> None:
        """A fresh target: a copy of the files the warm-up left."""
        shutil.rmtree(self.round_dir, ignore_errors=True)
        self.round_dir = os.path.join(self.run.spec["work_dir"], f"target_{name}")
        shutil.copytree(self.warm_dir, self.round_dir)
        # The copied files count as written again, so that each timed day
        # closes a cycle of load, warm-up day and itself (run.write_amp).
        self.days.extend({**d, "op": f"{name}.{d['op']}", "restored": True, "timed": False}
                         for d in self.warm_days)

    def day(self, day: int, op_id: str, timed: bool, rerun: bool = False,
            load: bool = False) -> float | None:
        """One day's operation; return its seconds, or None if it raised.
        ``load`` is the initial load, which backfills ``history_days``
        dates; later days re-pull the ``repull_days`` dates before them;
        ``rerun`` applies the same day again, which must leave every target
        table unchanged."""
        tr, spark = self.run.tracer, self.run.spark
        t = self.transport(day, load)
        inputs = self.inputs[day]
        layers: dict = {"upsert_s": []}
        before = self.snapshot() if rerun else None
        files_before = parquet_files(self.round_dir)

        def body():
            with tr.span("op" if timed else "warmup", op_id):
                t0 = time.perf_counter()
                etl.run_day(spark, self._source(t, op_id), self.round_dir,
                            on_layer=self._layer_hook(op_id, layers))
                return time.perf_counter() - t0

        seconds = self.run.guarded(op_id, body)
        spark.catalog.clearCache()
        if seconds is None:
            return None
        # What the sinks wrote: the parquet files that are new since before
        # the day.  A file left in place keeps its (inode, mtime) and does
        # not count, whatever directory it was renamed into.
        files = parquet_files(self.round_dir)
        new = [v for k, v in files.items() if k not in files_before]
        self.days.append({"op": op_id, "day": day, "load": load, "rerun": rerun, "timed": timed,
                          "bytes_written": sum(size for size, _path in new),
                          "rows_written": sum(pq_rows(path) for _size, path in new),
                          "stored_bytes": sum(size for size, _path in files.values()),
                          "stored_rows": sum(pq_rows(path) for _size, path in files.values()),
                          "batch_rows": inputs["batch_rows"], "upsert_s": layers["upsert_s"]})
        if timed:
            self.run.ops.append({"op": op_id, "name": f"day{day}", "seconds": seconds,
                                 "rows_in": inputs["rows_in"], "rows_out": inputs["batch_rows"],
                                 "transport_calls": t.calls + t.lead_pages()})
        if day not in self.expected:
            etl.apply_upsert(self.state, inputs["batch"])
            self.expected[day] = None
        if timed:  # the timed day's target holds every earlier day's writes too
            if self.expected[day] is None:
                self.expected[day] = {tb: checks.frame_keyed(self.state[tb], etl.UPSERT_KEYS[tb])
                                      for tb in etl.TABLES}
            self.run.record(op_id, self.run.guarded(op_id, lambda: self.check(day, before)))
        return seconds

    def snapshot(self) -> dict:
        return {tb: checks.read_target(os.path.join(self.round_dir, tb), etl.UPSERT_KEYS[tb])
                for tb in etl.TABLES}

    def check(self, day: int, before: dict | None) -> str | None:
        errors = []
        after = self.snapshot()
        for table in etl.TABLES:
            got = after[table]
            err = got if isinstance(got, str) else checks.diff_keyed(
                got, self.expected[day][table])
            if not err and before is not None and got != before[table]:
                err = "re-applying the day changed the table"
            if err:
                errors.append(f"{table}: {err}")
        return "; ".join(errors) or None

    def _source(self, transport, op_id: str):
        from projeto_de_etl_com_api_do_meta_spark.sources.meta_rest import MetaRestSource

        tr = self.run.tracer
        if tr is NULL_TRACER:
            return MetaRestSource(self.run.spark, transport)

        class TracedSource(MetaRestSource):
            def read_ads(self, *a, **kw):
                with tr.span("sources.extract", op_id, edge="ads"):
                    return super().read_ads(*a, **kw)

            def read_insights(self, *a, **kw):
                with tr.span("sources.extract", op_id, edge="insights"):
                    return super().read_insights(*a, **kw)

            def read_leads(self, *a, **kw):
                with tr.span("sources.extract", op_id, edge="leads"):
                    return super().read_leads(*a, **kw)

        return TracedSource(self.run.spark, transport)

    def _layer_hook(self, op_id: str, layers: dict):
        tr, traced = self.run.tracer, self.run.tracer is not NULL_TRACER

        def call(name, fn, table):
            t0 = time.perf_counter()
            with tr.span(name, op_id, table=table):
                out = fn()
            if name == "sinks.upsert":
                layers["upsert_s"].append(time.perf_counter() - t0)
            elif traced:  # also materialise the plan alone, to a sink that writes nothing
                with tr.span("plans.exec", op_id, table=table):
                    out.write.format("noop").mode("overwrite").save()
            return out

        return call

    def warmup(self) -> float | None:
        """The initial load (its seconds end set-up), then the first day
        after it, untimed: that day's plans ran about a third slower than
        on their next runs.  The files they leave are kept as the starting
        target of every timed day."""
        self.round_dir = os.path.join(self.run.spec["work_dir"], "target_warmup")
        last = self.p["history_days"] - 1
        seconds = self.day(last, "warmup.load", timed=False, load=True)
        self.day(last + 1, f"warmup.day{last + 1}", timed=False)
        os.makedirs(self.round_dir, exist_ok=True)  # missing only if the load failed
        shutil.copytree(self.round_dir, self.warm_dir)
        self.warm_days = list(self.days)
        return seconds

    def timed_round(self, r: int) -> None:
        """The next day after the warm-up, on a fresh copy of the warm-up's
        target: it updates the ``repull_days`` dates it re-pulls and inserts
        a new one.  Every round times the same operation on the same state,
        so their times are samples of one figure."""
        day = self.p["history_days"] + 1
        self.restore(f"r{r}")
        self.day(day, f"r{r}.day{day}", timed=True)

    def repeat_untraced(self, r: int) -> str:
        """The timed day of round ``r`` again, untraced; return its id.
        This is also the idempotence gate."""
        day = self.p["history_days"] + 1
        self.day(day, f"r{r}.day{day}.rerun.untraced", timed=True, rerun=True)
        return f"r{r}.day{day}"


def parquet_files(root: str | None) -> dict[tuple[int, int], tuple[int, str]]:
    """(inode, mtime) -> (size, path) of every parquet file under ``root``."""
    out = {}
    for dirpath, _dirs, names in os.walk(root or ""):
        for name in names:
            if name.endswith(".parquet"):
                path = os.path.join(dirpath, name)
                st = os.stat(path)
                out[(st.st_ino, st.st_mtime_ns)] = (st.st_size, path)
    return out


def pq_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


WORKLOADS = {"llm_curation": LlmCuration, "ads_daily_etl": AdsDailyEtl}


def main(spec_path: str) -> int:
    with open(spec_path) as fh:
        spec = json.load(fh)
    with PeakRss() as rss:
        t0 = time.time()
        from projeto_de_etl_com_api_do_meta_spark.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false"}
        if spec["trace"]:
            os.makedirs(spec["eventlog_dir"], exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                         "spark.eventLog.dir": "file://" + spec["eventlog_dir"]})
        spark = get_spark(app_name=f"perfbench-{spec['workload']}",
                          master=f"local[{spec['cpus']}]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.time()
        from projeto_de_etl_com_api_do_meta_spark.queries.registry import _load_all

        _load_all()
        t2 = time.time()
        run = Run(spec, spark, NULL_TRACER)
        wl = WORKLOADS[spec["workload"]](run)
        # Set-up ends with the warm-up operation's result: its input
        # generation and correctness gate are the benchmark's work, not set-up.
        warmup_s = wl.warmup()
        if warmup_s is None:  # the warm-up raised (reported): count all it took
            warmup_s = time.time() - t2
        tracer = Tracer(spark.sparkContext) if spec["trace"] else None
        run.tracer = tracer or NULL_TRACER
        rounds = 0
        while rounds == 0 or (run.ops and sum(o["seconds"] for o in run.ops) < spec["seconds"]):
            wl.timed_round(rounds)
            rounds += 1
        untraced_of = None
        if tracer is not None:  # one operation again, untraced: tracing overhead
            n, run.tracer = len(run.ops), NULL_TRACER
            untraced_of = wl.repeat_untraced(rounds - 1)
            run.ops, run.untraced_ops = run.ops[:n], run.ops[n:]
        spark.stop()
    result = {
        "setup_s": t2 - spec["t_spawn"] + warmup_s,
        "session.get_spark_s": t1 - t0,
        "queries.registry_load_s": t2 - t1,
        "session.warmup_s": warmup_s,
        "peak_rss_bytes": rss.peak_bytes,
        "ops": run.ops,
        "untraced_ops": run.untraced_ops,
        "untraced_of": untraced_of,
        "attempted": run.attempted,
        "failures": run.failures,
        "etl_days": getattr(wl, "days", []),
    }
    if tracer is not None:
        result["spans"] = tracer.spans
        result["layers"] = layer_metrics(tracer.spans, read_event_log(spec["eventlog_dir"]),
                                         spec["cpus"])
    with open(spec["result"], "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
