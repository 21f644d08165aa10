"""Benchmark of the Meta-Ads ETL engine, one workload per invocation.

    python3 perfbench/run.py --workload ads_daily_etl --seed 1 --seconds 5 --trace 0

Run from the repository root.  It generates the workload's inputs from
``--seed``, then starts one fresh worker process on ``local[N]``, N = the
CPUs this process may use.  The worker sets up (``get_spark``, registry
import, the cold first operation), runs every other kind of operation once
untimed, then runs the timed phase: complete rounds of operations from one
closed-loop client until at least ``--seconds`` of operation time has run.
Every operation's output is checked outside its timing.

With ``--trace 1`` the Spark event log is on and the timed phase records
spans and job groups; one of its operations then runs once more untraced,
and the difference between the two is the tracing overhead.  Human-readable
lines come first; the last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  Spans and per-day figures of a
traced run are written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)  # the program and this package, from the checkout root

from perfbench import gen  # noqa: E402
from perfbench.trace import self_times  # noqa: E402

PROGRAM = "projeto_de_etl_com_api_do_meta_spark"

#: Input sizes per workload (README.md says why).
LLM_DOCS, LLM_VECS = 1200, 600
ETL = {"n_ads": 50, "history_days": 14, "repull_days": 7}

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "rows_per_s": "rows/s"}
PER_OP_LAYERS = (
    "sources.extract_s", "sources.transport_calls", "plans.build_s", "plans.build_self_s",
    "plans.exec_s", "sinks.upsert_s", "sinks.bytes_written", "queries.build_s",
    "queries.exec_s", "io.input_bytes", "io.records_read", "exec.jobs", "exec.stages",
    "exec.tasks", "exec.driver_gap_s", "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.records", "spill.bytes",
    "python.bytes_sent", "python.bytes_received", "sources.task_run_s", "plans.task_run_s",
    "sinks.task_run_s", "queries.task_run_s", "op.self_s",
)
PER_LAYER = {
    "session.peak_rss_mb": "MB", "session.get_spark_s": "s",
    "queries.registry_load_s": "s", "session.warmup_s": "s",
    **{k: ("s" if k.endswith("_s") else "bytes" if "bytes" in k else "count")
       for k in PER_OP_LAYERS},
    "sinks.rows_rewritten_per_row": "ratio", "sinks.write_amp": "ratio",
    "io.records_read_per_row_out": "ratio", "shuffle.records_per_row_out": "ratio",
    "exec.core_busy_frac": "ratio", "trace.overhead_s": "s", "trace.overhead_frac": "ratio",
}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def generate(workload: str, seed: int, data_dir: str) -> dict:
    if workload == "llm_curation":
        pairs = gen.gen_corpus(data_dir, seed, LLM_DOCS, LLM_VECS)
        return {"inputs": {"documents": LLM_DOCS, "embeddings": LLM_VECS},
                "exact_dup_pairs": pairs}
    return {"etl": ETL}


def spawn(spec: dict, spec_path: str, env: dict, timeout_s: float) -> dict:
    """Run one worker to completion, then make sure its whole process group
    (JVM, Python daemons) has ended."""
    spec["t_spawn"] = time.time()
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    proc = subprocess.Popen([sys.executable, "-m", "perfbench.worker", spec_path],
                            cwd=spec["work_dir"], env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=timeout_s)
    finally:
        _reap(proc)
    if code != 0:
        raise RuntimeError(f"worker exited with code {code}")
    with open(spec["result"]) as fh:
        return json.load(fh)


def _reap(proc: subprocess.Popen) -> None:
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.time() + 10
        while time.time() < deadline and _group_alive(proc.pid):
            time.sleep(0.1)
        if not _group_alive(proc.pid):
            break
    if proc.poll() is None:
        proc.wait()


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def summarize(timed: dict, trace: bool) -> tuple[dict, dict]:
    ops = timed["ops"]
    e2e = {"setup_s": timed["setup_s"], **op_metrics(ops)}
    if not trace:
        return e2e, {}
    n = len(ops)
    lay = dict(timed["layers"])
    spans = timed["spans"]
    op_spans = {s["id"] for s in spans if s["name"] == "op"}

    def in_op(s: dict) -> bool:
        while s is not None:
            if s["id"] in op_spans:
                return True
            s = next((p for p in spans if p["id"] == s["parent"]), None)
        return False

    timed_spans = [s for s in spans if in_op(s)]
    for name in ("sources.extract", "plans.build", "plans.exec", "sinks.upsert",
                 "queries.build", "queries.exec"):
        lay[f"{name}_s"] = sum(s["end"] - s["start"] for s in timed_spans if s["name"] == name)
    selfs = self_times(timed_spans)
    lay["plans.build_self_s"] = selfs.get("plans.build", 0.0)
    lay["op.self_s"] = selfs.get("op", 0.0)
    lay["sources.transport_calls"] = sum(o.get("transport_calls", 0) for o in ops)
    op_ids = {o["op"] for o in ops}
    days = [d for d in timed["etl_days"] if d["op"] in op_ids]
    rows_out = sum(o["rows_out"] for o in ops)
    per_layer = {k: lay.get(k, 0.0) / n for k in PER_OP_LAYERS}
    per_layer.update({
        "session.peak_rss_mb": timed["peak_rss_bytes"] / 1e6,
        "session.get_spark_s": timed["session.get_spark_s"],
        "queries.registry_load_s": timed["queries.registry_load_s"],
        "session.warmup_s": timed["session.warmup_s"],
        "sinks.rows_rewritten_per_row": _ratio(sum(d["rows_written"] for d in days),
                                               sum(d["batch_rows"] for d in days)),
        "sinks.write_amp": write_amp(timed["etl_days"]),
        "io.records_read_per_row_out": _ratio(lay.get("io.records_read", 0), rows_out),
        "shuffle.records_per_row_out": _ratio(lay.get("shuffle.records", 0), rows_out),
        "exec.core_busy_frac": lay.get("exec.core_busy_frac", 0.0),
    })
    per_layer["trace.overhead_s"] = per_layer["trace.overhead_frac"] = 0.0
    if timed["untraced_ops"]:  # missing only if the repeat failed, which is reported
        untraced = timed["untraced_ops"][0]["seconds"]
        traced = next(o for o in ops if o["op"] == timed["untraced_of"])
        # The traced operation also materialised each plan to a noop sink
        # (plans.exec), which the untraced one does not: leave that out.
        extra = sum(s["end"] - s["start"] for s in timed_spans
                    if s["name"] == "plans.exec" and s["op"] == traced["op"])
        per_layer["trace.overhead_s"] = traced["seconds"] - extra - untraced
        per_layer["trace.overhead_frac"] = per_layer["trace.overhead_s"] / untraced
    return e2e, per_layer


def op_metrics(ops: list[dict]) -> dict:
    """``op_p50_s`` and ``rows_per_s`` from per-kind medians.

    Operations of one kind (a registry query; a simulated day) repeat once
    per round.  Each kind's median seconds is taken over its rounds, so a
    slow second on a shared host moves only one sample of one kind.
    ``op_p50_s`` is the geometric mean of those medians, the median
    operation of a mix whose kinds differ up to 4 times in cost, in which a
    speed-up of any one kind shows.  ``rows_per_s`` is one round's input
    rows over the sum of the medians."""
    by_kind: dict[str, list[dict]] = {}
    for o in ops:
        by_kind.setdefault(o["name"], []).append(o)
    med = {k: statistics.median(o["seconds"] for o in v) for k, v in by_kind.items()}
    return {
        "op_p50_s": statistics.geometric_mean(med.values()),
        "rows_per_s": sum(v[0]["rows_in"] for v in by_kind.values()) / sum(med.values()),
    }


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def write_amp(days: list[dict]) -> float:
    """Parquet bytes the sinks wrote over a cycle (the initial load, the
    warm-up day and a timed day; re-runs left out) / bytes stored at its
    end, averaged over cycles.  Bytes written are those of files that are
    new after a day."""
    cycles: list[list[dict]] = []
    for d in days:
        if d["load"]:
            cycles.append([])
        if not d["rerun"]:
            cycles[-1].append(d)
    amps = [_ratio(sum(d["bytes_written"] for d in c), c[-1]["stored_bytes"])
            for c in cycles if c[-1]["timed"]]
    return statistics.mean(amps) if amps else 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ads_daily_etl", "llm_curation"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # Stopped from outside, still stop the worker and remove its files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if importlib.util.find_spec(PROGRAM) is None:
        print(f"error: package {PROGRAM} not found; run from the repository root",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    n_cpu = cpus()
    env = {**os.environ, "PYTHONPATH": ROOT, "TMPDIR": os.path.join(work, "tmp"),
           "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
           "SPARK_GRAFT_CPUS": str(n_cpu),
           "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"}
    try:
        spec = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "cpus": n_cpu, "work_dir": work,
                "data_dir": os.path.join(work, "data"),
                "eventlog_dir": os.path.join(work, "eventlog"),
                **generate(args.workload, args.seed, os.path.join(work, "data"))}
        timed = spawn({**spec, "result": os.path.join(work, "result.json")},
                      os.path.join(work, "spec.json"), env, timeout_s=170)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failures, attempted = timed["failures"], timed["attempted"]
    if not timed["ops"]:  # no timed operation succeeded: nothing to measure
        for f in failures:
            print(f"FAILED {f['op']}: {f['error']}", file=sys.stderr)
        return 1
    e2e, per_layer = summarize(timed, bool(args.trace))
    report(args, e2e, per_layer, timed, failures, attempted)
    if args.trace:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"trace_{args.workload}_seed{args.seed}.json"), "w") as fh:
            json.dump({"spans": timed["spans"], "etl_days": timed["etl_days"],
                       "ops": timed["ops"], "per_layer": per_layer}, fh)
    metrics = e2e if not args.trace else per_layer
    units = END_TO_END if not args.trace else PER_LAYER
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def report(args, e2e: dict, per_layer: dict, timed: dict, failures: list, attempted: int) -> None:
    ops = timed["ops"]
    print(f"workload {args.workload} seed {args.seed} local[{cpus()}] "
          f"ops {len(ops)} (one closed-loop client)")
    for k, v in e2e.items():
        print(f"  {k:<16} {v:12.4f} {END_TO_END[k]}")
    print(f"  {'failed_frac':<16} {len(failures) / attempted:12.4f} ({len(failures)}/{attempted})")
    print(f"  op_p90_s         omitted: {len(ops)} operations < 100")
    print(f"  {'peak_rss_mb':<16} {timed['peak_rss_bytes'] / 1e6:12.4f} MB "
          "(per-layer session.peak_rss_mb: too unsteady for a bound)")
    if args.workload == "ads_daily_etl":
        print(f"  {'write_amp':<16} {write_amp(timed['etl_days']):12.4f} ratio")
        for d in (d for d in timed["etl_days"] if not d.get("restored")):
            print(f"    {d['op']:<24} batch_rows {d['batch_rows']:>6} "
                  f"stored_rows {d['stored_rows']:>6} "
                  f"(touched {_ratio(d['batch_rows'], d['stored_rows']):.2f}) "
                  f"rows_written {d['rows_written']:>6} bytes_written {d['bytes_written']:>8} "
                  f"stored_bytes {d['stored_bytes']:>8} "
                  f"upsert_s {' '.join(f'{s:.2f}' for s in d['upsert_s'])}")
    for o in ops:
        print(f"    {o['op']:<40} {o['seconds']:8.3f} s")
    for k, v in per_layer.items():
        print(f"  {k:<32} {v:16.4f} {PER_LAYER[k]}")
    for f in failures:
        print(f"  FAILED {f['op']}: {f['error']}")


if __name__ == "__main__":
    sys.exit(main())
