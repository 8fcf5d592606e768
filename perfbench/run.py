#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload dedup_batch --seed 1 --seconds 5 --trace 0

Runs one workload on ``local[nproc]`` from this one process: set-up, one
cold pass, then warm passes until ``--seconds`` have been measured (at
least one). Every pass is checked against the DuckDB reference. The last
line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Everything else goes to
stderr. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

END_TO_END = ("setup_s", "first_pass_s", "pass_s", "batch_s.p50")
#: StreamingQueryProgress.durationMs phases reported per micro-batch
PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
          "latestOffset", "getBatch")
UNITS = {"wall_s": "s", "jobs": "count", "executor_cpu_s": "s", "gc_s": "s",
         "shuffle_bytes": "B", "spill_bytes": "B", "driver_gap_s": "s"}


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _environment(run_dir: str) -> None:
    """Keep every file the run writes inside the checkout, and put the
    repo on the Python workers' path (RDD tasks import mrjob_spark)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # no hsperfdata file in /tmp from the spark-submit launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]


def _spark(run_dir: str, trace: bool):
    from mrjob_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.local.dir": tmp,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + events,
        })
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _event_log(spark, on: bool) -> None:
    """Attach or detach the context's event-log listener, so the
    untraced passes of a traced run write no events. Call it only on a
    real transition: the context attaches the listener at start-up, the
    bus does not de-duplicate an added listener, and a removal takes off
    one copy."""
    sc = spark.sparkContext._jsc.sc()
    logger = sc.eventLogger()
    if logger.isEmpty():
        return
    if on:
        sc.listenerBus().addToEventLogQueue(logger.get())
    else:
        sc.listenerBus().removeListener(logger.get())


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit: it exits when its stdin
    closes, and its Python workers exit with it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Run:
    """One process: set-up, a cold pass, warm passes. With ``trace``,
    warm passes alternate between traced (event log on, jobs tagged with
    their span) and untraced, so the tracing overhead is measured in the
    same process."""

    def __init__(self, args, run_dir: str):
        import workloads
        from spans import Spans

        self.args = args
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.workloads = workloads
        self.wl = workloads.WORKLOADS[args.workload](
            args.seed, os.path.join(run_dir, "inputs"),
            os.path.join(WORK, "refcache"))
        self.spans = Spans(tag_jobs=self.trace)
        self.spark = None
        #: whether the event-log listener is attached (it is from start-up
        #: when tracing)
        self.event_log_on = self.trace
        self.attempted = 0
        self.failed = 0
        self.passes: list[dict] = []

    def setup(self) -> float:
        os.makedirs(self.wl.work)
        self.spans.phase = "setup"
        start = time.perf_counter()
        with self.spans.span("session.get_spark"):
            self.spark = _spark(self.run_dir, self.trace)
        self.spans.sc = self.spark.sparkContext
        self.wl.setup(self.spark, self.spans)
        return time.perf_counter() - start

    def one_pass(self, phase: str) -> None:
        tag = f"{phase}{len(self.passes) + 1}"
        pass_dir = os.path.join(self.run_dir, tag)
        os.makedirs(pass_dir)
        traced = self.trace and phase != "untraced"
        if traced != self.event_log_on:
            _event_log(self.spark, traced)
            self.event_log_on = traced
        self.spans.tag_jobs = traced
        self.spans.phase = tag
        t0 = time.time()
        start = time.perf_counter()
        try:
            res = self.wl.run_pass(self.spark, self.spans, pass_dir)
        except Exception:
            log(traceback.format_exc())
            res = self.workloads.PassResult()
            res.step(False, "pass raised")
        elapsed = time.perf_counter() - start
        t1 = time.time()
        if res.after is not None:
            # untimed: counts read only for the per-layer table, and the
            # pipeline's own releases
            try:
                res.after()
            except Exception:
                log(traceback.format_exc())
                res.step(False, "after-pass step raised")
        # what the pass left cached, then a clean slate for the next one
        entries = self.workloads.cache_entries(self.spark)
        self.workloads.release_all(self.spark)
        shutil.rmtree(pass_dir, ignore_errors=True)
        self.attempted += res.attempted
        self.failed += res.failed
        for e in res.errors:
            log(f"{tag}: FAILED {e}")
        log(f"{tag}: {elapsed:.3f}s attempted={res.attempted}"
            f" failed={res.failed} cache_entries={entries} counts={res.counts}")
        self.passes.append({"phase": phase, "tag": tag, "pass_s": elapsed,
                            "window": (t0, t1), "res": res,
                            "cache_entries": entries})

    def measure(self) -> None:
        self.setup_s = self.setup()
        log(f"setup {self.setup_s:.3f}s")
        self.one_pass("cold")
        cycle = ("warm", "untraced") if self.trace else ("warm",)
        deadline = time.perf_counter() + self.args.seconds
        while True:
            for phase in cycle:
                self.one_pass(phase)
            if time.perf_counter() >= deadline:
                break
        if self.trace:
            self.peak_rss_mb = _peak_rss_mb(self.spark)

    def of(self, phase: str) -> list[dict]:
        return [p for p in self.passes if p["phase"] == phase]

    def end_to_end(self) -> dict:
        warm = self.of("warm")
        # a micro-batch where the workload streams; a workload that does
        # not stream still needs a non-zero value, so there it is the
        # same measurement as pass_s
        batch = [b for p in warm for b in p["res"].batch_s] or [
            p["pass_s"] for p in warm]
        values = (self.setup_s, self.of("cold")[0]["pass_s"],
                  statistics.median(p["pass_s"] for p in warm),
                  statistics.median(batch))
        return {name: (v, "s") for name, v in zip(END_TO_END, values)}

    def per_layer(self, events: list[dict]) -> dict:
        """Every per-layer value this run produces: span fields for
        set-up (one occurrence) and per traced warm pass (mean), counts
        from the traced warm passes, micro-batch phases, memory and the
        tracing overhead."""
        from spans import FIELDS, rollup

        warm = self.of("warm")
        tags = {p["tag"] for p in warm}
        records = self.spans.records
        out: dict[str, tuple[float, str]] = {}
        for table, n in (
            (rollup(events, [r for r in records if r[0] == "setup"]), 1),
            (rollup(events, [r for r in records if r[0] in tags]), len(warm)),
        ):
            for span, row in table.items():
                for f in FIELDS:
                    out[f"{span}.{f}"] = (row[f] / n, UNITS[f])
        counts: dict[str, list[float]] = {}
        for p in warm:
            for k, v in p["res"].counts.items():
                counts.setdefault(k, []).append(v)
        for k, vs in counts.items():
            out[k] = (statistics.median(vs), "count")
        if out.get("dedup.candidate_pairs", (0,))[0]:
            out["dedup.verify_yield"] = (
                out["dedup.pairs"][0] / out["dedup.candidate_pairs"][0], "ratio")
        if "graph.connected_components.jobs" in out:
            out["graph.cc_jobs"] = (out["graph.connected_components.jobs"][0], "count")
        phases = [ph for p in warm for ph in p["res"].phases]
        if phases:
            for ph in PHASES:
                out[f"streaming.{ph}_s"] = (
                    statistics.median(b.get(ph, 0.0) for b in phases), "s")
            batch = [b for p in warm for b in p["res"].batch_s]
            out["streaming.batch_max_s"] = (max(batch), "s")
            out["streaming.batches"] = (len(batch), "count")
        out["cache.entries_after_pass"] = (
            max(p["cache_entries"] for p in self.passes), "count")
        out["jvm.peak_rss_mb"] = (self.peak_rss_mb, "MB")
        traced = statistics.median(p["pass_s"] for p in warm)
        untraced = statistics.median(p["pass_s"] for p in self.of("untraced"))
        out["trace.untraced_pass_s"] = (untraced, "s")
        out["trace.overhead_s"] = (traced - untraced, "s")
        return out


def _select(values: dict, names: list[dict]) -> dict:
    """The declared metrics in declared order; a layer this workload
    does not enter reads 0."""
    return {
        m["name"]: {"value": values.get(m["name"], (0.0,))[0], "unit": m["unit"]}
        for m in names
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "mrjob_spark")):
        log(f"perfbench: the engine package mrjob_spark is not next to {HERE}")
        return 2
    spec = declared()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        log(f"perfbench: unknown workload {args.workload!r}")
        return 2
    kind = "per_layer" if args.trace else "end_to_end"
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    _environment(run_dir)
    from spans import event_log_health, read_events

    summary = {"workload": args.workload, "seed": args.seed}
    try:
        run = Run(args, run_dir)
        try:
            run.measure()
        finally:
            if run.spark is not None:
                _stop(run.spark)
        if run.trace:
            events = read_events(os.path.join(run_dir, "events"))
            values = run.per_layer(events)
            summary["event_log"] = event_log_health(
                events, [p["window"] for p in run.of("untraced")])
        else:
            values = run.end_to_end()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    log(json.dumps({
        **summary, "inputs": run.wl.inputs,
        "undeclared": {k: v[0] for k, v in sorted(values.items())
                       if k not in {m["name"] for m in spec[kind]}},
        "produced": sorted(values),
    }))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": _select(values, spec[kind]),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
