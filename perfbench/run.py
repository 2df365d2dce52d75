#!/usr/bin/env python3
"""Seeded, layered benchmark of the sketch library on local Spark.

Run from the repository root:

    python3 perfbench/run.py --workload global_build --seed 1 --seconds 10 --trace 0

Workloads: global_build, probe, keyed_skew, checkpoint_resume (see
workloads.py). BENCHMARK.json drives global_build and checkpoint_resume,
the two that fit its time budget; the other two run the same way by
hand. The load model is a closed loop with one client: the
driver issues one operation at a time against local[nproc] and times
each. Inputs are generated from the seed by ``gen.py`` and cached under
``.perfbench_work/``.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics. A human-readable report goes to stderr; the last
line of stdout is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass
from pathlib import Path

import gen
import procstat
from spans import Tracer, read_event_log, self_times
from workloads import KERNEL_SAMPLE_TOKENS, LAYER_REPS, WORKLOADS, arrow_batches

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "rusty_bloomfilter_spark"
SETUPS = 3  # set-ups per run; setup_s is their median
MIN_REPS = 3
MAX_REPS = 60
WARM_SECONDS = 5.0
CALM_STEAL = 0.01

END_TO_END = {
    "tok_per_s": "1/s",
    "cpu_s_per_mtok": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
    "output_bytes": "bytes",
    "bloom_fpr": "ratio",
}

PER_LAYER = {
    "sources.scan_s": "s",
    "sources.splits": "count",
    "sources.input_bytes": "bytes",
    "arrow.hop_s": "s",
    "operators.sketches.update_ns_per_tok": "ns",
    "operators.sketches.dedup_distinct_ratio": "ratio",
    "operators.sketches.dedup_engaged_ratio": "ratio",
    "sketch.add_ns_per_item": "ns",
    "sketch.contains_ns_per_item": "ns",
    "sketch.merge_s": "s",
    "sketch.to_bytes_s": "s",
    "sketch.from_bytes_s": "s",
    "sketch.payload_bytes": "bytes",
    "operators.aggregate.stage1_s": "s",
    "operators.aggregate.merge_s": "s",
    "operators.aggregate.collect_s": "s",
    "operators.aggregate.partials": "count",
    "operators.aggregate.partial_payload_bytes": "bytes",
    "operators.aggregate.merge_levels": "count",
    "operators.aggregate.max_group_fanin": "count",
    "operators.checkpoint.merge_only_s": "s",
    "operators.checkpoint.built_files": "count",
    "operators.checkpoint.resumed_files": "count",
    "operators.checkpoint.bytes_written": "bytes",
    "operators.checkpoint.bytes_read": "bytes",
    "proc.jvm_cpu_s": "s",
    "proc.py_cpu_s": "s",
    "proc.idle_core_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "trace.unexplained_s": "s",
    "trace.overhead_s": "s",
}


def _import_package(batches):
    import rusty_bloomfilter_spark.operators  # noqa: F401

    for b in batches:
        yield b


def warm_workers(spark, cores: int) -> None:
    """Start one Python worker per core and import the package in each."""
    spark.range(cores, numPartitions=cores).mapInArrow(_import_package, "id long").collect()


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


@dataclass
class Rep:
    op_id: str
    seconds: float
    cpu: procstat.CpuSample
    steal: float  # share of the host's core time stolen during the op
    result: object


def calm(reps: list[Rep]) -> list[Rep]:
    """The operations timed while the hypervisor stole at most CALM_STEAL
    of the cores, or else the MIN_REPS least-stolen ones.

    On this kind of shared VM a few percent of steal slows an operation
    by up to 2x (a stalled vCPU holds back the task or driver thread
    everything waits for), and steal comes in windows of minutes. The
    choice uses the host's steal counter only, never the operation's
    own time."""
    quiet = [r for r in reps if r.steal <= CALM_STEAL]
    return quiet if len(quiet) >= MIN_REPS else sorted(reps, key=lambda r: r.steal)[:MIN_REPS]


class Runner:
    def __init__(self, wl, work: Path, cores: int):
        self.wl = wl
        self.work = work
        self.cores = cores
        self.spark = None
        self.attempted = 0
        self.failed = 0

    # -- session ---------------------------------------------------------

    def start_session(self, event_log: bool = False):
        from pyspark.sql import SparkSession

        b = (
            SparkSession.builder.master(f"local[{self.cores}]")
            .appName("perfbench")
            .config("spark.driver.memory", "2g")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.shuffle.partitions", str(self.cores))
            .config("spark.local.dir", str(self.work / "spark-local"))
            .config("spark.sql.warehouse.dir", str(self.work / "warehouse"))
            # a fully committed heap keeps the JVM's share of peak_rss_mb
            # constant, so the metric moves with the Python side only
            .config(
                "spark.driver.extraJavaOptions",
                f"-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={self.work / 'tmp'}",
            )
            .config("spark.eventLog.enabled", "true" if event_log else "false")
            .config("spark.eventLog.dir", str(self.work / "eventlog"))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for every child."""
        self.stop_session()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        me = os.getpid()
        deadline = time.time() + 30
        while True:
            left = [st.pid for st in procstat.tree() if st.pid != me]
            if not left:
                return
            if time.time() > deadline:
                for pid in left:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = time.time() + 30
            time.sleep(0.2)

    def setup(self, event_log: bool = False) -> float:
        """One set-up: session start, imports, Python worker warm-up and
        the workload's prep. Returns its wall seconds."""
        self.stop_session()
        t0 = time.perf_counter()
        spark = self.start_session(event_log)
        import rusty_bloomfilter_spark.operators  # noqa: F401

        warm_workers(spark, self.cores)
        self.wl.setup(spark)
        return time.perf_counter() - t0

    def warm_up(self) -> None:
        """Full, checked, untimed operations for WARM_SECONDS (at least
        one), so timing starts after the JVM's compiler has settled."""
        t_end = time.perf_counter() + WARM_SECONDS
        while True:
            self.wl.before_rep()
            self.note(self.wl.check(self.wl.op()), "warm-up")
            if time.perf_counter() >= t_end:
                return

    def note(self, failures: list[str], op_id: str) -> None:
        """Count one attempted operation; any failed check fails it."""
        self.attempted += 1
        self.failed += bool(failures)
        for f in failures:
            log(f"CHECK FAILED {op_id}: {f}")

    # -- timed loop --------------------------------------------------------

    def measure(self, seconds: float, tracer, tag: str):
        reps: list[Rep] = []
        sc = self.spark.sparkContext
        t0 = time.perf_counter()

        def more() -> bool:
            """Run for ``seconds`` and at least MIN_REPS; while steal
            leaves fewer than MIN_REPS calm operations, go on for up to
            half as long again."""
            left = t0 + seconds - time.perf_counter()
            if len(reps) >= MAX_REPS:
                return False
            if left > 0 or len(reps) < MIN_REPS:
                return True
            n_calm = sum(r.steal <= CALM_STEAL for r in reps)
            return n_calm < MIN_REPS and left > -seconds / 2

        with procstat.RssSampler() as rss:
            while more():
                self.wl.before_rep()
                op_id = f"{tag}-{len(reps)}"
                if tracer.enabled:
                    sc.setJobGroup(op_id, op_id)
                c0 = procstat.cpu_sample()
                s0 = procstat.steal_ticks()
                start = time.perf_counter()
                with tracer.span("op", op_id):
                    result = self.wl.op()
                dt = time.perf_counter() - start
                cpu = procstat.cpu_sample() - c0
                steal = (procstat.steal_ticks() - s0) / procstat.TICK / (dt * self.cores)
                self.note(self.wl.check(result), op_id)
                reps.append(Rep(op_id, dt, cpu, steal, result))
        if tracer.enabled:
            sc.setJobGroup("", "")
        return reps, rss.peak

    # -- modes ---------------------------------------------------------------

    def end_to_end(self, seconds: float) -> dict:
        setups = [self.setup() for _ in range(SETUPS)]
        log(f"set-ups (s): {', '.join(f'{s:.2f}' for s in setups)} (first includes JVM launch)")
        self.report_splits()
        self.warm_up()
        reps, peak = self.measure(seconds, Tracer(False), "op")
        wl = self.wl
        last = reps[-1].result
        timed = calm(reps)
        metrics = {
            "tok_per_s": wl.tokens / statistics.median(r.seconds for r in timed),
            "cpu_s_per_mtok": statistics.median(r.cpu.total_s / (wl.tokens / 1e6) for r in timed),
            "peak_rss_mb": peak / 2**20,
            "setup_s": statistics.median(setups),
            "output_bytes": wl.output_bytes(last),
            "bloom_fpr": wl.bloom_fpr(last),
        }
        log(f"{len(reps)} ops, op seconds: {', '.join(f'{r.seconds:.3f}' for r in reps)}")
        log(f"host steal per op (share of core time): {', '.join(f'{r.steal:.3f}' for r in reps)}")
        kind = "calm" if all(r.steal <= CALM_STEAL for r in timed) else "least-stolen"
        log(f"timed: {len(timed)} {kind} ops; median over all ops {statistics.median(r.seconds for r in reps):.3f}s")
        extra = {"failed_ops_ratio": self.failed / self.attempted}
        extra.update(wl.extra_report(last))
        for k, v in extra.items():
            log(f"{k} = {v:.6g}")
        return metrics

    def report_splits(self) -> int:
        """Input splits of the workload's scan; warns when Spark's file
        packing left fewer than the workload intends."""
        splits = self.wl.df.rdd.getNumPartitions()
        want = self.wl.intended_splits or self.cores
        log(f"{'WARNING: ' if splits < want else ''}input splits: {splits} (intended >= {want})")
        return splits

    def per_layer(self, seconds: float) -> dict:
        wl = self.wl
        # untraced baseline sessions before and after the traced one, so
        # JVM warm-up does not bias the tracing overhead either way
        base = self.baseline(seconds / 3)
        self.setup(event_log=True)
        self.warm_up()
        app_id = self.spark.sparkContext.applicationId
        tracer = Tracer(True)
        reps, _ = self.measure(seconds / 3, tracer, "op")
        m = wl.checkpoint_layers(reps[-1].result, tracer)
        m.update(self.scan_layers(tracer))
        m.update(self.kernel_layers(tracer))
        base += self.baseline(seconds / 3)

        log_path = self.work / "eventlog" / app_id
        m.update(self.op_layers(tracer, reps, *read_event_log(str(log_path))))
        log_path.unlink()
        m["trace.overhead_s"] = statistics.median(r.seconds for r in calm(reps)) - statistics.median(
            r.seconds for r in calm(base)
        )
        (self.work / "traces").mkdir(exist_ok=True)
        tracer.write(str(self.work / "traces" / f"{wl.name}-s{wl.seed}.jsonl"))
        self.report_shares(m, statistics.median(r.seconds for r in reps))
        return m

    def op_layers(self, tracer, reps: list[Rep], jobs: dict[str, int], stages) -> dict:
        """Per-operation layer metrics from the Spark event log: each
        completed stage becomes a child span of its operation's span
        (file-scan stages are stage 1, the rest are merge stages), plus
        a collect span from the last stage's end to the call's return.
        The operation's self time is what no stage or collect explains."""
        per_op = []
        for r in reps:
            op_span = next(s for s in tracer.named("op") if s.op == r.op_id)
            mine = [s for s in stages if s.job_group == r.op_id]
            if not mine:
                raise RuntimeError(f"no stages in the event log for {r.op_id}")
            for st in mine:
                name = "operators.aggregate.stage1" if st.scans_files else "operators.aggregate.merge"
                tracer.add(name, r.op_id, st.start, st.end, op_span.id)
            last_end = max(st.end for st in mine)
            tracer.add("operators.aggregate.collect", r.op_id, last_end, max(last_end, op_span.end), op_span.id)
            scans = [st for st in mine if st.scans_files]
            merges = [st for st in mine if not st.scans_files]
            per_op.append(
                {
                    "spark.jobs": jobs[r.op_id],
                    "spark.stages": len(mine),
                    "spark.tasks": sum(st.tasks for st in mine),
                    "operators.aggregate.stage1_s": sum(st.end - st.start for st in scans),
                    "operators.aggregate.merge_s": sum(st.end - st.start for st in merges),
                    "operators.aggregate.collect_s": max(0.0, op_span.end - last_end),
                    "operators.aggregate.merge_levels": len(merges),
                    "operators.aggregate.partials": sum(st.shuffle_records_written for st in scans),
                    "operators.aggregate.partial_payload_bytes": sum(st.shuffle_bytes_written for st in scans),
                    "operators.aggregate.max_group_fanin": max([st.max_task_records_read for st in merges] or [0]),
                    "proc.jvm_cpu_s": r.cpu.jvm_s,
                    "proc.py_cpu_s": r.cpu.py_s,
                    "proc.idle_core_s": r.seconds * self.cores - r.cpu.total_s,
                    "_span": op_span.id,
                }
            )
        selfs = self_times(tracer.spans)
        for row in per_op:
            row["trace.unexplained_s"] = selfs[row.pop("_span")]
        return {k: statistics.median(row[k] for row in per_op) for k in per_op[0]}

    def baseline(self, seconds: float) -> list[Rep]:
        self.setup()
        self.warm_up()
        reps, _ = self.measure(seconds, Tracer(False), "base")
        return reps

    def scan_layers(self, tracer) -> dict:
        wl = self.wl
        cols = wl.columns
        df = wl.df.select(*cols)
        schema = df.schema

        def consume(batches):
            for _ in batches:
                pass
            return iter(())

        def timed(name, run):
            out = []
            for _ in range(LAYER_REPS):
                with tracer.span(name, "layers") as sp:
                    run()
                out.append(sp.duration)
            return statistics.median(out)

        return {
            "sources.scan_s": timed(
                "sources.scan", lambda: df.write.format("noop").mode("overwrite").save()
            ),
            "arrow.hop_s": timed(
                "arrow.hop",
                lambda: df.mapInArrow(consume, schema).write.format("noop").mode("overwrite").save(),
            ),
            "sources.splits": self.report_splits(),
            "sources.input_bytes": wl.man[wl.input_table]["bytes"],
        }

    def kernel_layers(self, tracer) -> dict:
        import numpy as np

        from rusty_bloomfilter_spark.operators.sketches import arrow_flat_tokens, dedup_counts
        from rusty_bloomfilter_spark.sketch import BlockedBloomFilter, merge_sketch_payloads, sketch_from_bytes

        wl = self.wl
        specs = wl.build_specs()
        batches = list(arrow_batches(wl.files, wl.columns, KERNEL_SAMPLE_TOKENS))
        with tracer.span("operators.sketches.update", "layers"):
            upd_s, n_tok = wl.update_sample(specs, batches)
        engaged = distinct = total = 0
        for flat in wl.update_units(batches):
            dc = dedup_counts(flat)
            total += flat.size
            if dc is None:
                distinct += flat.size
            else:
                engaged += flat.size
                distinct += dc[0].size
        flat = np.concatenate([arrow_flat_tokens(b, "tokens") for b in batches])[:1_000_000]
        with tracer.span("sketch.add", "layers") as sp_add:
            BlockedBloomFilter.for_np(gen.BLOOM_N, gen.BLOOM_P).add_tokens(flat)
        filt = sketch_from_bytes(wl.probe_filter_payload())
        with tracer.span("sketch.contains", "layers") as sp_contains:
            filt.contains_tokens(flat)
        with tracer.span("operators.sketches.partials", "layers"):
            partial_sets = wl.partials(specs)
        with tracer.span("sketch.to_bytes", "layers") as sp_to:
            groups = wl.merge_groups(specs, partial_sets)
        t_from = t_merge = 0.0
        payload_bytes = 0
        for g in groups:
            t0 = time.perf_counter()
            for p in g:
                sketch_from_bytes(p)
            t_from += time.perf_counter() - t0
            t0 = time.perf_counter()
            merged = merge_sketch_payloads(g)
            t_merge += time.perf_counter() - t0
            payload_bytes += len(merged)
        return {
            "operators.sketches.update_ns_per_tok": upd_s / n_tok * 1e9,
            "operators.sketches.dedup_distinct_ratio": distinct / total,
            "operators.sketches.dedup_engaged_ratio": engaged / total,
            "sketch.add_ns_per_item": sp_add.duration / flat.size * 1e9,
            "sketch.contains_ns_per_item": sp_contains.duration / flat.size * 1e9,
            "sketch.merge_s": t_merge,
            "sketch.to_bytes_s": sp_to.duration,
            "sketch.from_bytes_s": t_from,
            "sketch.payload_bytes": payload_bytes,
        }

    def report_shares(self, m: dict, op_s: float) -> None:
        scan = m["sources.scan_s"]
        hop = max(0.0, m["arrow.hop_s"] - scan)
        upd = max(0.0, m["operators.aggregate.stage1_s"] - m["arrow.hop_s"])
        shares = {
            "scan": scan,
            "arrow hop": hop,
            "stage-1 update+serialize (stage1 - hop)": upd,
            "merge stages": m["operators.aggregate.merge_s"],
            "collect": m["operators.aggregate.collect_s"],
            "unexplained": m["trace.unexplained_s"],
        }
        if m["operators.checkpoint.merge_only_s"]:
            shares["checkpoint list+read+merge (merge-only resume)"] = m["operators.checkpoint.merge_only_s"]
        log(f"op median {op_s:.3f}s; layer shares of it:")
        for k, v in shares.items():
            log(f"  {k:<48} {v:8.3f}s  {100 * v / op_s:6.1f}%")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        log(f"error: package {PACKAGE!r} not found in {ROOT}; run from a full checkout")
        return 2
    work = ROOT / ".perfbench_work"
    for sub in ("tmp", "spark-local", "eventlog", "data"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # everything the run writes stays in the checkout; workers import the
    # package from the checkout whatever the working directory
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, str(ROOT))
    import tempfile

    tempfile.tempdir = None

    if args.workload not in WORKLOADS:
        log(f"error: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](args.seed, str(work / "data"), str(work))
    log(f"inputs ready in {time.perf_counter() - t0:.2f}s (generated or cached; not in setup_s)")
    for t, man in wl.man.items():
        log(
            f"  {t}: rows={man['rows']} tokens={man['tokens']} files={man['files']} "
            f"bytes={man['bytes']} distinct/total={man['distinct_total_ratio']:.5f}"
        )
    runner = Runner(wl, work, cores)
    # a terminated run still stops its JVM and workers (via finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        if args.trace:
            metrics, units = runner.per_layer(args.seconds), PER_LAYER
        else:
            metrics, units = runner.end_to_end(args.seconds), END_TO_END
    finally:
        runner.shutdown()
    for k, u in units.items():
        log(f"{k} = {metrics[k]:.6g} {u}")
    failed = runner.failed
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": runner.attempted,
                "failed": failed,
                "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
