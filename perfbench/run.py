"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the repository root.  One process, one ``local[nproc]`` session
from ``session.get_spark`` as shipped (``shuffle_partitions=nproc``).  Set-up
is cold: it starts the JVM and the session, loads the KB and runs the
warm-up pass, once per run.  Each timed phase is a closed loop of
the workload's operations for ``--seconds`` seconds or for its fixed number
of operations; every output is checked afterwards against its oracle.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the
throughput phase untraced, then every phase again on a session with Spark's
event log on, job groups around every call and timers around the package
functions each layer exposes; it prints the per-layer metrics and writes
the stage ledger to ``perfbench/.work/ledgers/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

import ledger
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))


class Session:
    """The shipped session, restartable inside one JVM, and its teardown."""

    def __init__(self) -> None:
        self.spark = None
        self.start_s: list[float] = []

    def start(self):
        from entity_extraction_svc_spark.session import get_spark

        nproc = os.cpu_count() or 1
        t0 = time.perf_counter()
        self.spark = get_spark(master=f"local[{nproc}]", shuffle_partitions=nproc)
        self.start_s.append(time.perf_counter() - t0)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def set_jvm_props(self, props: dict) -> None:
        """JVM system properties read by the next session's SparkConf."""
        jvm = self.spark._jvm
        for k, v in props.items():
            jvm.java.lang.System.setProperty(k, v)

    def shutdown(self) -> None:
        """Stop the session, end the JVM and wait for every process it
        started (the Python workers) to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        kids = ledger.descendants(os.getpid())
        self.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        finally:
            if proc is not None:
                proc.stdin.close()  # the JVM exits on EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        alive = kids
        while alive and time.time() < deadline:
            time.sleep(0.1)
            alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def timed_phases(wl, spark, seconds: float, phases, cur: list) -> list[dict]:
    """Run ``phases`` as closed loops; one record per call, in order."""
    ops: list[dict] = []
    for ph in phases:
        wl.drained = False
        t_phase = time.perf_counter()
        n = 0
        while True:
            cur[0] = len(ops)
            m0 = machine_clock()
            try:
                docs, out = wl.op(spark, ph.name, cur[0])
                err = None
            except Exception as ex:  # a failed operation is counted, not raised
                traceback.print_exc()
                docs, out, err = 0, None, f"{type(ex).__name__}: {ex}"
            ops.append({"kind": "op", "phase": ph.name, "name": f"{ph.name}{n}",
                        "index": cur[0], "docs": docs, "output": out,
                        **machine_clock(m0), "error": err})
            n += 1
            if wl.drained or (n >= ph.min_ops and (
                    not ph.by_seconds or time.perf_counter() - t_phase >= seconds)):
                break
        cur[0] = len(ops)
        for name, clock, err in wl.finish(spark, ph.name, machine_clock):
            ops.append({"kind": "finish", "phase": ph.name, "name": name,
                        "index": None, "docs": 0, "output": None,
                        **clock, "error": err})
    for o in ops:
        print(f"{o['name']}: {o['latency_s']:.3f}s wall, {o['steal_s']:.3f}s "
              f"steal ({o['steal_cpu_s']:.3f}s stolen, {o['busy_cpu_s']:.3f}s "
              f"busy vCPU time), {o['docs']} docs"
              + (f" ERROR {o['error']}" if o["error"] else ""))
    return ops


def machine_clock(start: dict | None = None) -> dict:
    """Wall time and machine-wide CPU time; with ``start``, the elapsed
    ``latency_s`` since it and ``steal_s``, the part of it the hypervisor
    took away.  A stolen second delays the run by a full second when one
    vCPU carries the work and by a quarter when four do, so the steal summed
    over the vCPUs is divided by the average number of vCPUs that wanted to
    run: ``steal_s = wall * steal / (busy + steal)``."""
    busy, steal = ledger.cpu_ticks()
    now = {"t": time.perf_counter(), "busy": busy, "steal": steal}
    if start is None:
        return now
    wall = now["t"] - start["t"]
    busy_s = (busy - start["busy"]) / ledger.CLK_TCK
    steal_cpu_s = (steal - start["steal"]) / ledger.CLK_TCK
    demand = busy_s + steal_cpu_s
    return {"latency_s": wall,
            "steal_s": wall * steal_cpu_s / demand if demand > 0 else 0.0,
            "busy_cpu_s": busy_s, "steal_cpu_s": steal_cpu_s}


def own_time(o: dict) -> float:
    """An operation's wall time less the steal in it: the benchmark's unit
    of time, so a noisy co-tenant does not read as a slower program."""
    return o["latency_s"] - o["steal_s"]


def check_phase(wl, spark, ops: list[dict]) -> dict:
    """Score every output; count attempts and failures."""
    try:
        res = wl.check(spark, ops)
    except Exception as ex:  # a crashing check fails the run, visibly
        traceback.print_exc()
        res = {"quality": {}, "op_failures": {},
               "checks": [("check", f"{type(ex).__name__}: {ex}")]}
    failed = 0
    for o in ops:
        reason = o["error"] or res["op_failures"].get(o["index"])
        if reason:
            failed += 1
            print(f"FAILED {o['name']}: {reason}")
    for name, err in res["checks"]:
        if err:
            failed += 1
            print(f"FAILED check {name}: {err}")
    return {"quality": res["quality"], "failed": failed,
            "attempted": len(ops) + len(res["checks"])}


def docs_per_s(wl, ops) -> float:
    """Docs per second of :func:`own_time` of the fastest operation of the
    throughput phase.  Passes speed up as the JVM compiles hot code, so the
    median pass sits on that warm-up curve and varies with it from run to
    run; the fastest is the warmest."""
    return max((o["docs"] / own_time(o) for o in ops
                if o["kind"] == "op" and o["phase"] == wl.throughput_phase
                and o["error"] is None and own_time(o) > 0), default=0.0)


def metric_block(declared: list[dict], values: dict) -> dict:
    """The printed metrics: exactly the names BENCHMARK.json declares."""
    names = [m["name"] for m in declared]
    if set(values) != set(names):
        raise SystemExit(f"metrics {sorted(set(values) ^ set(names))} do not "
                         f"match BENCHMARK.json")
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in declared}


def end_to_end_values(wl, setup_s: float, ops: list[dict],
                      checked: dict) -> dict:
    q = checked["quality"]
    return {
        "docs_per_s": docs_per_s(wl, ops),
        "commit_s": ledger.median(own_time(o) for o in ops if o["kind"] == "op"
                                  and o["phase"] == wl.latency_phase),
        "setup_s": setup_s,
        "precision": q.get("precision", 0.0),
        "recall": q.get("recall", 0.0),
        "exact_share": q.get("exact_share", 0.0),
        "ok_share": 1 - checked["failed"] / max(checked["attempted"], 1),
    }


# layer metrics the harness measures itself rather than a workload
RUN_LAYER_METRICS = ("session.start_s", "spark.spill_bytes", "spark.jobs",
                     "mem.peak_rss_mb", "trace.docs_per_s_ratio")


def run(args, root: str, work: str, bench: dict) -> dict:
    cache = os.path.join(HERE, ".work", "cache")
    wl = WORKLOADS[args.workload](work, cache, args.seed)
    wl.prepare()
    sess = Session()
    # /proc sampling only in the traced run, so it never taxes a timed one
    with (ledger.PeakRss() if args.trace else contextlib.nullcontext()) as rss:
        try:
            # cold set-up: the JVM, the session, the KB and the warm-up
            # pass all start from nothing, as for a user's first job
            m0 = machine_clock()
            spark = sess.start()
            wl.setup(spark)
            setup_s = own_time(machine_clock(m0))
            print(f"setup {setup_s:.3f}s; session start {sess.start_s[0]:.3f}s")
            wl.begin_timed(spark)
            # the traced run needs only the throughput phase untraced, for
            # the tracing overhead
            phases = [p for p in wl.phases if not args.trace
                      or p.name == wl.throughput_phase]
            t0 = time.perf_counter()
            ops = timed_phases(wl, spark, args.seconds, phases, [0])
            t1 = time.perf_counter()
            checked = check_phase(wl, spark, ops)
            print(f"timed phases {t1 - t0:.1f}s, checks "
                  f"{time.perf_counter() - t1:.1f}s")
            if not args.trace:
                metrics = metric_block(bench["end_to_end"], end_to_end_values(
                    wl, setup_s, ops, checked))
            else:
                layers, t_ops, t_checked, stages = trace_phase(wl, sess, args,
                                                               work)
                # the cold start; the traced session reuses the live JVM
                layers["session.start_s"] = sess.start_s[0]
                untraced, traced = docs_per_s(wl, ops), docs_per_s(wl, t_ops)
                layers["trace.docs_per_s_ratio"] = (
                    traced / untraced if untraced else 0.0)
                checked = {k: checked[k] + t_checked[k]
                           for k in ("attempted", "failed")}
        finally:
            sess.shutdown()
    if args.trace:
        layers["mem.peak_rss_mb"] = rss.peak_kb / 1024
        # layers a workload does not run report 0
        metrics = metric_block(bench["per_layer"], {
            **{m["name"]: 0.0 for m in bench["per_layer"]}, **layers})
        out = os.path.join(HERE, ".work", "ledgers",
                           f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "metrics": metrics,
                       "overhead": {"untraced_docs_per_s": untraced,
                                    "traced_docs_per_s": traced},
                       "stages": stages}, f, indent=1, default=str)
        print(f"stage ledger written to {os.path.relpath(out, root)}")
    return {"correct": checked["failed"] == 0, "attempted": checked["attempted"],
            "failed": checked["failed"], "metrics": metrics}


def trace_phase(wl, sess, args, work):
    """Every phase again on a fresh session with the event log on, job
    groups around every call and the workload's wrappers installed;
    returns the layer metrics, the ops, their check and the stage ledger."""
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    sess.set_jvm_props({"spark.eventLog.enabled": "true",
                        "spark.eventLog.compress": "false",
                        "spark.eventLog.dir": "file://" + log_dir})
    sess.stop()
    spark = sess.start()
    sc = spark.sparkContext
    cur = [-1]

    def phase(name: str) -> None:
        sc.setJobGroup(ledger.group_id(cur[0], name), name)

    spans = ledger.Spans()
    try:
        wl.trace_hooks(spark, spans, phase)
        phase("setup")
        wl.setup(spark)
        wl.begin_timed(spark)
        ops = timed_phases(wl, spark, args.seconds, wl.phases, cur)
    finally:
        spans.restore()
        wl._phase = None
        sc.setJobGroup("check", "check")
    checked = check_phase(wl, spark, ops)
    serial = wl.serial_layers(spark)
    sess.stop()  # flushes the event log
    events = ledger.read_event_log(log_dir)
    stages, jobs = ledger.stage_ledger(events), ledger.job_ledger(events)
    metrics = wl.layer_metrics(stages, jobs, ops, serial)
    metrics["spark.spill_bytes"] = sum(s["spill_bytes"] for s in stages
                                       if ledger.timed(s))
    metrics["spark.jobs"] = sum(1 for j in jobs if ledger.timed(j))
    return metrics, ops, checked, stages


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "entity_extraction_svc_spark"))
            and os.path.isfile(os.path.join(root, "BENCHMARK.json"))):
        print("perfbench: run from the repository root; the package "
              "entity_extraction_svc_spark is not here", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    sys.path.insert(0, root)
    try:
        result = run(args, root, work, bench)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
