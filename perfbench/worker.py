"""The measured process: one fresh interpreter and JVM per run.

``run.py`` prepares the inputs and starts this file with a JSON config
path.  It builds the Spark session, loads the workload's input plans,
runs a fixed warm-up, then a closed loop of ops (one client, the next op
starts when the previous one returned) for the configured seconds, and
checks each op's output outside its timed interval.  The result is
written as JSON to the path named in the config.
"""

from __future__ import annotations

import json
import os
import sys
import time


def _rss_kb(pid: int | str) -> int:
    """VmHWM (peak resident set) of a process, in KiB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _jvm_pid(spark) -> int | None:
    """PySpark's launcher process; spark-submit execs the JVM in it."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)


def session_conf(cfg: dict) -> dict[str, str]:
    work = cfg["work"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        # no hsperfdata file in the system temp dir: stay inside the checkout
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'derby')} -XX:-UsePerfData"
        ),
    }
    if cfg["trace"]:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
            }
        )
    return conf


def main(cfg_path: str) -> int:
    with open(cfg_path, encoding="utf-8") as f:
        cfg = json.load(f)
    t0 = cfg["t0"]  # wall clock just before this process was started
    sys.path[:0] = [cfg["root"], os.path.dirname(os.path.abspath(__file__))]

    import stats
    import workloads
    from spans import NullTracer, Tracer

    from cassandra_extractor_spark.session import get_spark

    tracer = Tracer() if cfg["trace"] else NullTracer()
    t_session = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=session_conf(cfg))
    session_start_s = time.perf_counter() - t_session
    wl = workloads.WORKLOADS[cfg["workload"]](spark, cfg, tracer)
    wl.load()
    if tracer.enabled:
        tracer.sc = spark.sparkContext
        wl.instrument()

    t_warm = time.perf_counter()
    for i in range(wl.warmup_ops):
        wl.timed_op(f"w{i}")
        wl.check(f"w{i}")
    warmup_s = time.perf_counter() - t_warm

    # closed loop, one client: the next op starts when the last returned
    setup_s = time.time() - t0
    deadline = time.perf_counter() + cfg["seconds"]
    ops = 0
    while True:
        wl.timed_op(ops)
        wl.check(ops)
        ops += 1
        if time.perf_counter() >= deadline:
            break
    wl.finish()

    log = wl.log
    measured = [log.latencies[k] for k in sorted(log.latencies)]
    result = {
        "workload": cfg["workload"],
        "seed": cfg["seed"],
        "summary": log.summary(),
        "setup_s": setup_s,
        "session_start_s": session_start_s,
        "warmup_s": warmup_s,
        "warmup_ops": wl.warmup_ops,
        "warmup_latencies": wl.warmup_latencies,
        "latencies": measured,
        "halves_drift": stats.halves_drift(measured),
        "check_s": wl.check_s,
        "peak_rss_mb": (_rss_kb("self") + _rss_kb(_jvm_pid(spark) or 0)) / 1024.0,
        "errors": {str(k): v for k, v in log.errors.items()},
        "warmup_errors": wl.warmup_errors,
    }
    labels = [str(k) for k in range(ops)]
    if tracer.enabled:
        result["layers"] = wl.layer_record(session_start_s, warmup_s, labels)
        spark.stop()  # completes the event log
        result["layers"].update(wl.engine_record(os.path.join(cfg["work"], "eventlog"), labels))
    result["notes"] = {k: str(v) for k, v in wl.notes.items()}
    with open(cfg["result"], "w", encoding="utf-8") as f:
        json.dump(result, f)
    # an untraced session is not stopped: run.py ends the JVM once this
    # process has exited, and deletes everything it wrote
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
