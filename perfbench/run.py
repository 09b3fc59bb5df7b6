#!/usr/bin/env python3
"""Engine benchmark: runs one workload closed-loop and prints its metrics.

    python3 perfbench/run.py --workload ndjson_wide_batch --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the ``end_to_end`` list of ``BENCHMARK.json``, with
``--trace 1`` its ``per_layer`` list. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "nifi_hive_schema_generator_bundle_spark"
SETUPS = 3  # set-ups per run; setup_s is their median
FOLD_SAMPLE = 4000  # lines in the single-thread fold of a traced run


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def session_conf(work: str) -> dict:
    return {
        "spark.driver.memory": "2g",
        # a fixed, pre-touched heap keeps heap sizing, GC work and memory from
        # differing run to run
        "spark.driver.extraJavaOptions":
            f"-Xms2g -XX:+AlwaysPreTouch -Djava.io.tmpdir={work}/tmp",
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }


def p50(values) -> float:
    return statistics.median(values) if values else 0.0


class Run:
    """One benchmark process: set-ups, the timed phase, the metrics."""

    def __init__(self, args, work: str, contract: dict):
        import counters
        import gen
        import workloads

        self.args = args
        self.work = work
        self.contract = contract
        self.pid = os.getpid()
        self.counters = counters
        self.machine = counters.machine()
        cache = os.path.join(ROOT, ".perfbench_cache")
        data_dir, truth, g1 = gen.generate(args.workload, args.seed, cache)
        warm_dir, warm_truth, g2 = gen.generate(args.workload, args.seed, cache,
                                                warmup=True)
        self.gen_s = g1 + g2
        self.eng = workloads.modules()
        self.wl = workloads.WORKLOADS[args.workload](
            self.eng, work, (data_dir, truth), (warm_dir, warm_truth))
        self.spark = None
        self.tracer = None
        if args.trace:
            import spans

            self.tracer = spans.Tracer()
            spans.install(self.tracer, self.eng)

    # -- session lifecycle -------------------------------------------------

    def setup(self) -> float:
        # a task keeps a JVM thread and a Python worker busy, so half the
        # CPUs as task slots keeps the busy threads at about one per CPU
        slots = max(1, self.machine["nproc"] // 2)
        t0 = time.perf_counter()
        self.spark = self.eng.session.get_session(
            f"perfbench-{self.args.workload}", master=f"local[{slots}]",
            shuffle_partitions=2 * slots, extra_conf=session_conf(self.work))
        self.wl.warmup(self.spark)
        return time.perf_counter() - t0

    def close(self) -> None:
        """Stop Spark, the JVM and every process this run started, and
        wait until each has ended."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while True:
            left = [p for p in self.counters.tree(self.pid) if p != self.pid]
            if not left:
                return
            if time.monotonic() > deadline:
                for p in left:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = time.monotonic() + 30
            try:  # reap direct children; others are reaped by their parent
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            time.sleep(0.1)

    # -- the run -----------------------------------------------------------

    def go(self) -> dict:
        c = self.counters
        load_start = c.loadavg()
        # The first set-up launches the JVM; each later one stops the
        # session and builds a fresh one in the same JVM.
        setups = []
        for i in range(SETUPS):
            if self.tracer:
                self.tracer.enabled, self.tracer.op_id = True, ("setup", i)
            if self.spark is not None:
                self.spark.stop()
                self.spark = None
            setups.append(self.setup())
        log(f"set-ups: {[round(t, 2) for t in setups]} s")
        if self.tracer:
            self.tracer.enabled = False
        prime_s = []
        for _ in range(self.wl.prime_ops):
            t0 = time.perf_counter()
            for op in self.wl.unit(self.spark):
                if not op.ok:
                    log(f"priming op failed: {op.note}")
            prime_s.append(round(time.perf_counter() - t0, 3))
        log(f"priming ops: {prime_s} s")
        spark_counters = c.SparkCounters(self.spark) if self.tracer else None

        with c.MemSampler(self.pid) as mem:
            mem.reset()
            cpu0 = c.cpu_split(self.pid)
            gc0 = c.jvm_gc_seconds(self.spark)
            units = []  # (traced, ops, spark counter delta, t0, t1)
            start = time.perf_counter()
            while True:
                # at least min_ops op samples, and with tracing a unit of
                # each kind
                elapsed = time.perf_counter() - start
                enough = (len(units) >= 2 if self.tracer
                          else sum(len(u[1]) for u in units) >= self.wl.min_ops)
                if elapsed >= self.args.seconds and enough:
                    break
                traced = bool(self.tracer) and len(units) % 2 == 1
                if self.tracer:
                    self.tracer.enabled = traced
                    self.tracer.op_id = ("op", len(units))
                if traced:
                    spark_counters.mark()
                u0 = time.perf_counter()
                try:
                    ops = self.wl.unit(self.spark)
                except Exception as exc:  # an op that raises counts as failed
                    traceback.print_exc(file=sys.stderr)
                    ops = self.wl.units_failed(exc)
                u1 = time.perf_counter()
                if self.tracer:
                    self.tracer.enabled = False
                delta = spark_counters.since_mark() if traced else None
                units.append((traced, ops, delta, u0, u1))
                for op in ops:
                    if not op.ok:
                        log(f"op failed: {op.note}")
            phase_s = time.perf_counter() - start
            cpu1 = c.cpu_split(self.pid)
            gc1 = c.jvm_gc_seconds(self.spark)
            peak_pss = mem.peak_mb
        load_end = c.loadavg()

        all_ops = [op for u in units for op in u[1]]
        n_ops = len(all_ops)
        failed = sum(not op.ok for op in all_ops)
        times = [op.seconds for op in all_ops if op.seconds is not None]
        cpu = {k: (cpu1[k] - cpu0[k]) / n_ops for k in cpu1}
        self.summary = {
            "workload": self.args.workload, "seed": self.args.seed,
            "trace": self.args.trace, "attempted": n_ops, "failed": failed,
            "ops_failed_frac": failed / n_ops, "op_samples": len(times),
            "units": len(units), "phase_s": round(phase_s, 3),
            "gen_s": round(self.gen_s, 3),
            "setups_s": [round(t, 3) for t in setups],
            "prime_s": prime_s,
            "op_times_s": [round(t, 3) for t in times],
            "loadavg_start": load_start, "loadavg_end": load_end,
            **self.machine,
        }
        e2e = {
            "setup_s": p50(setups),
            "op_s_p50": p50(times),
            "records_per_s": sum(op.lines for op in all_ops) / phase_s,
            "cpu_s_per_op": sum(cpu.values()),
            "peak_pss_mb": peak_pss,
        }
        if not self.tracer:
            metrics = e2e
        else:
            metrics = self.layer_metrics(units, cpu, (gc1 - gc0) / n_ops,
                                         (load_start, load_end))
        return self.report(metrics, n_ops, failed)

    def layer_metrics(self, units, cpu, gc_per_op, load) -> dict:
        import spans as sp
        import workloads

        spans = self.tracer.spans
        traced = [u for u in units if u[0]]
        plain = [u for u in units if not u[0]]
        if self.args.workload == "ndjson_drift_stream":
            batch_spans = sorted((s for s in spans if s[1] == "stream.process_batch"),
                                 key=lambda s: s[2])
            ops = [s[5] for s in batch_spans]
            gaps = []
            for _, _, _, u0, u1 in traced:
                inside = [s for s in batch_spans if u0 <= s[2] <= u1]
                gaps += [b[2] - a[3] for a, b in zip(inside, inside[1:])]
        else:
            ops = [("op", i) for i, u in enumerate(units) if u[0]]
            gaps = []
        op_set = set(ops)
        by_name = sp.per_op([s for s in spans if s[5] in op_set], ops)

        def mean(name, field="s"):
            per = by_name.get(name, ())
            return sum(t[field] for t in per) / len(per) if per else 0.0

        def op_p50(us):
            return p50([op.seconds for u in us for op in u[1] if op.seconds is not None])

        n_traced_ops = sum(len(u[1]) for u in traced)
        spark_tot = {}
        for u in traced:
            for k, v in u[2].items():
                spark_tot[k] = spark_tot.get(k, 0) + v
        per_op = {k: v / n_traced_ops for k, v in spark_tot.items()}
        n, fold_s = workloads.fold_rate(self.wl.sample_lines(FOLD_SAMPLE),
                                          self.eng.lattice)
        m = {
            "ops_timed": len([op for u in units for op in u[1]]),
            "trace.op_s_p50_traced": op_p50(traced),
            "trace.op_s_p50_untraced": op_p50(plain),
            "session.get_session_s": p50(
                [s[3] - s[2] for s in spans if s[1] == "session.get_session"]),
            "lattice.fold_records_per_s": n / fold_s,
            "catalog.infer_and_register_self_s": mean("catalog.infer_and_register", "self_s"),
            "lattice.merge_types_calls": mean("lattice.merge_types", "calls"),
            "catalog.register_table_calls": mean("catalog.register_table", "calls"),
            "stream.trigger_gap_s": p50(gaps),
            "stream.drift_events": 0, "stream.alter_statements": 0,
            "spark.jobs_per_op": per_op["jobs"],
            "spark.stages_per_op": per_op["stages"],
            "spark.tasks_per_op": per_op["tasks"],
            "spark.tasks_failed": spark_tot["tasks_failed"],
            "spark.input_mb_per_op": per_op["input_bytes"] / 2**20,
            "spark.shuffle_mb_per_op": per_op["shuffle_bytes"] / 2**20,
            "jvm.gc_s_per_op": gc_per_op,
            "cpu.driver_s_per_op": cpu["driver"],
            "cpu.jvm_s_per_op": cpu["jvm"],
            "cpu.python_workers_s_per_op": cpu["python_workers"],
            "host.loadavg_start": load[0],
            "host.loadavg_end": load[1],
        }
        untraced = m["trace.op_s_p50_untraced"]
        m["trace.overhead_frac"] = (m["trace.op_s_p50_traced"] / untraced - 1.0
                                    if untraced else 0.0)
        for spec in self.contract["per_layer"]:
            name = spec["name"]
            if name not in m and name.endswith("_s"):
                m[name] = mean(name[:-2])
        if self.args.workload == "ndjson_drift_stream":
            state = self.wl.last_state
            m["stream.drift_events"] = len(state.ddl_history)
            m["stream.alter_statements"] = len(state.alter_history)
        self.tracer.dump(os.path.join(
            ROOT, ".perfbench_work",
            f"trace-{self.args.workload}-s{self.args.seed}.jsonl"))
        return m

    def report(self, metrics: dict, attempted: int, failed: int) -> dict:
        kind = "per_layer" if self.args.trace else "end_to_end"
        out = {}
        for spec in self.contract[kind]:
            value = metrics[spec["name"]]
            out[spec["name"]] = {"value": float(value), "unit": spec["unit"]}
        return {"correct": failed == 0, "attempted": attempted,
                "failed": failed, "metrics": out}


def main(argv=None) -> int:
    args = parse_args(argv)
    contract_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        log(f"the engine package {PKG}/ is not in {ROOT}; nothing to measure")
        return 2
    with open(contract_path, encoding="utf-8") as f:
        contract = json.load(f)
    if args.workload not in {w["name"] for w in contract["workloads"]}:
        log(f"unknown workload {args.workload!r}")
        return 2

    # keep every file Spark, the JVM and the workers write inside the checkout
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONHASHSEED"] = "0"  # the same dict layouts in every worker
    tempfile.tempdir = None
    sys.path[:0] = [ROOT, HERE]

    run = None
    try:
        run = Run(args, work, contract)
        result = run.go()
    finally:
        if run is not None:
            run.close()
        shutil.rmtree(work, ignore_errors=True)
    s = run.summary
    print(
        f"perfbench {s['workload']} seed={s['seed']} trace={s['trace']}: "
        f"{s['attempted']} ops ({s['op_samples']} timed samples) in "
        f"{s['phase_s']} s, failed={s['failed']} "
        f"ops_failed_frac={s['ops_failed_frac']:.4f}, op times {s['op_times_s']} s, "
        f"set-ups {s['setups_s']} s, priming ops {s['prime_s']} s, "
        f"input generation {s['gen_s']} s, loadavg {s['loadavg_start']}"
        f"→{s['loadavg_end']}, nproc={s['nproc']}, RAM {s['mem_total_gb']} GB"
    )
    for name, m in result["metrics"].items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
