"""Benchmark entry point.

    python3 perfbench/run.py --workload bulk_extract --seed 1 --seconds 4 --trace 0

Run from the root of a checkout.  It generates the workload's inputs
from the seed under ``.perfbench/`` in the checkout, starts one fresh
measured process (``worker.py``: a new interpreter and JVM) with a fixed
environment, and prints a report followed, as the last line of standard
output, by one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` makes an
untraced run and then a traced one, each in a fresh process on inputs of
its own, and reports the per-layer metrics plus the tracing overhead:
the traced run's median op latency minus the untraced one's.  The exit
code is 0 only when every op's output checked out.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402
from workloads import WORKLOADS, BulkExtract  # noqa: E402

#: the run must end within this many seconds (180 at most, with a margin)
RUN_BUDGET_S = 170.0
#: fixed measured-process settings (noise controls)
DRIVER_MEM = "2g"
HASH_SEED = "0"
#: streaming: rows per delta file, and deltas staged per run (more than
#: warm-up plus the most ops a run can reach)
DELTA_ROWS = 2_000
DELTAS = 160

END_TO_END_UNITS = {
    "latency_p50_s": "s",
    "ops_per_s": "1/s",
    "rows_per_s": "rows/s",
    "setup_s": "s",
}


def layer_unit(name: str) -> str:
    if name.endswith("_s") or "_s." in name:
        return "s"
    if name.endswith("bytes_per_row"):
        return "B/row"
    if name.endswith("_bytes"):
        return "B"
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith("_percentile"):
        return "%"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def prepare(workload: str, seed: int, state: str, work: str) -> dict:
    """Generate the run's inputs (never timed; outside set-up)."""
    base = datagen.ensure_base(os.path.join(state, "data"))
    inputs = {"base_dir": base}
    if workload == "bulk_extract":
        bulk = os.path.join(work, "in")
        datagen.write_split_lineitem(base, bulk, seed)
        specs = os.path.join(work, "table_specs.json")
        with open(specs, "w", encoding="utf-8") as f:
            json.dump(BulkExtract.TABLE_SPEC, f)
        con = checks.connect()
        try:
            expected = checks.bulk_reference(
                con, os.path.join(bulk, "lineitem.parquet", "*.parquet"),
                BulkExtract.PREDICATE,
            )
        finally:
            con.close()
        inputs.update(bulk_dir=bulk, table_specs=specs, bulk_expected=expected)
    elif workload == "stream_resume":
        stage = os.path.join(work, "stage")
        datagen.write_event_deltas(stage, seed, DELTAS, DELTA_ROWS)
        inputs["stage_dir"] = stage
    return inputs


def child_env(work: str, root: str) -> dict[str, str]:
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYTHONHASHSEED=HASH_SEED,
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        PYTHONPATH=root,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    env.pop("SPARK_GRAFT_SF_DIR", None)
    return env


def _end_group(pgid: int) -> None:
    """Kill what is left of the worker's process group (its JVM) and wait
    until every process of it has ended."""
    while True:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except (ProcessLookupError, PermissionError):
            return
        time.sleep(0.05)


def run_child(cfg: dict, work: str, root: str, deadline: float) -> dict | None:
    """Run ``worker.py`` once in a fresh directory; return its result."""
    tag = "traced" if cfg["trace"] else "plain"
    sub = os.path.join(work, tag)
    shutil.rmtree(sub, ignore_errors=True)
    for d in ("cwd", "tmp", "local", "warehouse", "derby", "eventlog"):
        os.makedirs(os.path.join(sub, d), exist_ok=True)
    result_path = os.path.join(sub, "result.json")
    cfg_path = os.path.join(sub, "config.json")
    log_path = os.path.join(work, f"{tag}.log")
    with open(log_path, "wb") as log:
        # set-up time runs from here: the process start is part of it
        with open(cfg_path, "w", encoding="utf-8") as f:
            json.dump(dict(cfg, work=sub, result=result_path, t0=time.time()), f)
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=os.path.join(sub, "cwd"),
            env=child_env(sub, root),
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:  # also on SIGTERM: never leave the worker or its JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            _end_group(proc.pid)
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path, encoding="utf-8", errors="replace") as f:
            tail = f.read()[-4000:]
        why = "timed out" if rc is None else f"exited with {rc}"
        print(f"measured process {why}; its log ends:\n{tail}", file=sys.stderr)
        return None
    with open(result_path, encoding="utf-8") as f:
        return json.load(f)


def report(res: dict) -> None:
    s = res["summary"]
    d = res["halves_drift"]
    drift = ("too few ops to compare halves" if d is None
             else f"2nd half of the measured ops vs 1st half {100 * d:+.1f}%")
    print(f"workload {res['workload']} seed {res['seed']}: {s['n']} measured ops "
          f"({s['attempted']} attempted, {s['failed']} failed, "
          f"failed_ops_ratio {s['failed_ops_ratio']:.4f}), "
          f"warm-up {res['warmup_ops']} ops, {drift}")
    print(f"  setup_s          {res['setup_s']:.4f} s   (session start "
          f"{res['session_start_s']:.2f} s, warm-up {res['warmup_s']:.2f} s)")
    print(f"  latency_p50_s    {s['latency_p50_s']:.4f} s   n={s['n']}")
    print(f"  latency_tail_s   {s['latency_tail_s']:.4f} s   p{s['tail_percentile']:.1f}, "
          f"{s['tail_beyond']} samples beyond, n={s['n']}")
    print(f"  ops_per_s        {s['ops_per_s']:.4f} 1/s over {s['busy_s']:.2f} s of ops")
    print(f"  rows_per_s       {s['rows_per_s']:.1f} rows/s")
    print(f"  peak_rss_mb      {res['peak_rss_mb']:.1f} MB (driver JVM + Python)")
    for k, v in res["notes"].items():
        print(f"  {k}: {v}")
    print(f"  warm-up op latencies {[round(x, 3) for x in res['warmup_latencies']]}, "
          f"checks took {res['check_s']:.2f} s")
    print(f"  measured op latencies {[round(x, 3) for x in res['latencies']]}")
    for op, why in res["errors"].items():
        print(f"  FAILED op {op}: {why}")
    for op, why in res.get("warmup_errors", {}).items():
        print(f"  FAILED warm-up op {op}: {why}")


def end_to_end(res: dict) -> dict:
    s = res["summary"]
    values = {
        "latency_p50_s": s["latency_p50_s"],
        "ops_per_s": s["ops_per_s"],
        "rows_per_s": s["rows_per_s"],
        "setup_s": res["setup_s"],
    }
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    deadline = time.monotonic() + RUN_BUDGET_S
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "cassandra_extractor_spark")):
        print("run from the root of a checkout: cassandra_extractor_spark/ not found",
              file=sys.stderr)
        return 2
    state = os.path.join(root, ".perfbench")
    work = os.path.join(state, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cfg = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "root": root,
            "inputs": prepare(args.workload, args.seed, state, work),
            "trace": args.trace,
        }
        runs = []
        if args.trace:
            # the base of the tracing overhead: an untraced run of the same
            # code, made just before, on inputs of its own
            runs.append(run_child(dict(cfg, trace=0), work, root, deadline))
            if runs[0] is None:
                return 1
            cfg["inputs"] = prepare(args.workload, args.seed, state, os.path.join(work, "2"))
        res = run_child(cfg, work, root, deadline)
        if res is None:
            return 1
        runs.append(res)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    report(res)
    s = res["summary"]
    correct = all(r["summary"]["failed"] == 0 and not r["warmup_errors"] for r in runs)
    if args.trace:
        layers = res["layers"]
        base = runs[0]["summary"]["latency_p50_s"]
        layers["trace.overhead_s"] = s["latency_p50_s"] - base
        layers["trace.overhead_ratio"] = layers["trace.overhead_s"] / base
        # too few ops per run for a repeatable tail: reported here, not gated
        layers["op.latency_tail_s"] = s["latency_tail_s"]
        layers["op.tail_percentile"] = s["tail_percentile"]
        layers["op.samples"] = s["n"]
        # moved with GC timing by up to a quarter between runs: not gated
        layers["op.peak_rss_mb"] = res["peak_rss_mb"]
        print(f"tracing overhead: median op {s['latency_p50_s']:.4f} s traced vs "
              f"{base:.4f} s in the untraced run before it")
        for name in sorted(layers):
            print(f"  {name:32s} {layers[name]:.6g} {layer_unit(name)}")
        metrics = {k: {"value": layers[k], "unit": layer_unit(k)} for k in sorted(layers)}
    else:
        metrics = end_to_end(res)
    attempted = sum(r["summary"]["attempted"] for r in runs)
    failed = sum(r["summary"]["failed"] for r in runs)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
