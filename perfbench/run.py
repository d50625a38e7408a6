"""Benchmark: the e-commerce pipeline, batch and event-driven.

    python3 perfbench/run.py --workload batch_kpi --seed 1 --seconds 20 --trace 0

Run from the repository root. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Workloads, metrics and sizing are explained in
``perfbench/NOTES.md``.
"""

from __future__ import annotations

import time

T0 = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import checks  # noqa: E402
import gen  # noqa: E402
from collect import Counters, StatusStore  # noqa: E402
from spans import Span, Tracer, install, uninstall  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
#: A run that has not finished by then exits non-zero without a result.
DEADLINE_S = 175
MB = 1e6
#: Untimed operations before timing starts. The first pays JIT and code
#: generation cold, and the next ones are still clearly slower than the
#: rest.
WARMUP_OPS = 3
#: ``event_waves``: the waves that build the state every later wave
#: starts from (wave 1 ingests the whole history, wave 2 adds a day).
BASE_WAVES = 2
#: A median needs at least two timed operations.
MIN_TIMED_OPS = 2


@dataclass
class Op:
    """One operation: a pipeline run or an upload wave."""

    wall_s: float
    counters: Counters
    start: float = 0.0
    #: bytes the driver JVM read during the operation (``jvm_read_bytes``)
    read_bytes: int = 0
    failed: bool = False
    #: job group the operation's jobs ran under
    group: str = ""
    touched_dates: int = 0
    warmup: bool = False
    traced: bool = False
    #: run id of the operation's spans
    tag: str = ""


@dataclass
class Bench:
    seed: int
    seconds: float
    trace: bool
    tracer: Tracer = field(default_factory=Tracer)
    spark: object = None
    store: StatusStore | None = None
    jvm_pid: int = 0
    session_s: float = 0.0
    setup_s: float = 0.0
    ops: list[Op] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    #: (phase, seconds since process start), for the run summary
    marks: list[tuple[str, float]] = field(default_factory=list)

    def mark(self, phase: str) -> None:
        self.marks.append((phase, time.time() - T0))

    @property
    def timed(self) -> list[Op]:
        return [o for o in self.ops if not o.warmup]

    @property
    def untraced(self) -> list[Op]:
        return [o for o in self.timed if not o.traced and not o.failed]

    @property
    def traced(self) -> list[Op]:
        return [o for o in self.timed if o.traced and not o.failed]

    def loop(self, op_fn) -> None:
        """Closed loop, one client: ``WARMUP_OPS`` untimed operations,
        then ``op_fn(i, traced)`` until ``seconds`` have passed. A traced
        run alternates untraced and traced operations so both see the
        same JIT warm-up."""
        for i in range(WARMUP_OPS):
            self._attempt(op_fn, i, traced=False, warmup=True)
        self.setup_s = time.time() - T0
        self.mark("warmup")
        saved = install(self.tracer) if self.trace else []
        end = time.time() + self.seconds
        i = WARMUP_OPS
        try:
            while time.time() < end or len(self.timed) < MIN_TIMED_OPS:
                self._attempt(op_fn, i, traced=self.trace and i % 2 == 0, warmup=False)
                i += 1
        finally:
            uninstall(saved)
        self.mark("loop")

    def _attempt(self, op_fn, i: int, traced: bool, warmup: bool) -> None:
        self.tracer.active, self.tracer.run_id = traced, f"op{i}"
        try:
            op = op_fn(i, traced)
        except Exception:
            traceback.print_exc()
            op = Op(wall_s=float("nan"), counters=Counters(), failed=True)
        finally:
            self.tracer.active = False
        op.warmup, op.traced, op.tag = warmup, traced, f"op{i}"
        self.ops.append(op)

    def jvm_read_bytes(self) -> int:
        """Bytes the driver JVM has read through read syscalls (``rchar``
        of ``/proc/<pid>/io``), from every thread: in local mode that
        covers the executors, and parquet's vectored reads, which run off
        the task threads and which Spark's input metrics miss."""
        with open(f"/proc/{self.jvm_pid}/io") as f:
            for line in f:
                if line.startswith("rchar:"):
                    return int(line.split()[1])
        raise RuntimeError(f"no rchar in /proc/{self.jvm_pid}/io")

    def timed_call(self, name: str, fn, traced: bool) -> tuple[float, float, int]:
        """Call ``fn`` inside a span when traced; (start, wall seconds,
        JVM bytes read)."""
        idx = self.tracer.open(name) if traced else None
        read = self.jvm_read_bytes()
        start = time.time()
        try:
            fn()
        finally:
            wall = time.time() - start
            read = self.jvm_read_bytes() - read
            if idx is not None:
                self.tracer.close(idx)
        return start, wall, read

    def group_op(self, group: str, span: str, fn, traced: bool) -> Op:
        """Run ``fn`` on this thread under job group ``group``."""
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            start, wall, read = self.timed_call(span, fn, traced)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        self.store.settle()
        return Op(wall_s=wall, start=start, group=group, read_bytes=read,
                  counters=self.store.group(group, tasks=self.trace))


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# --- workloads ---------------------------------------------------------


def batch_kpi(bench: Bench, work: str) -> None:
    """One operation = ``pipeline_batch.run`` over the seeded raw zone
    into a fresh output directory, with default arguments."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark import (
        pipeline_batch,
    )

    raw = os.path.join(work, "raw")
    inj = gen.write_history(gen.ZoneSpec(seed=bench.seed), raw)
    bench.mark("gen")
    start_session(bench, work)
    outs = {}

    def op(i: int, traced: bool) -> Op:
        outs[i] = out = os.path.join(work, "out", f"op{i:04d}")
        o = bench.group_op(f"pipeline_batch/op{i}", "pipeline_batch",
                           lambda: pipeline_batch.run(bench.spark, raw, out), traced)
        o.touched_dates = len(inj.touched_dates)
        return o

    bench.loop(op)
    expected = checks.expected_kpis(raw)
    for i, o in enumerate(bench.ops):
        o.failed = o.failed or not checks.kpis_match(expected, outs[i])
    if bench.trace:
        bench.layers.update(pipeline_layers(bench, inj.raw_bytes))


def event_waves(bench: Bench, work: str) -> None:
    """One operation = one upload wave: land one orders file and one
    order_items file, then one ``run_event_driven_pipeline`` call
    (availableNow). Latency runs from landing to return.

    The first ``BASE_WAVES`` waves grow the zone (wave 1 ingests the
    whole history, wave 2 is the first one-day wave). Every later wave,
    warm-up or timed, starts from the raw zone, KPI tables and
    checkpoint they left, restored untimed, and lands the same next
    wave. So each timed wave re-reads the same history, however many
    waves a run completes, and the warm-ups run the timed path."""
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark import (
        pipeline_batch,
    )
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.streaming.pipeline import (
        run_event_driven_pipeline,
    )

    spec = gen.ZoneSpec(seed=bench.seed)
    raw, out, ckpt = (os.path.join(work, d) for d in ("raw", "out", "ckpt"))
    base = os.path.join(work, "base")
    gen.write_history(spec, raw)
    bench.mark("gen")
    start_session(bench, work)

    def restore() -> None:
        for d in (raw, out, ckpt):
            saved = os.path.join(base, os.path.basename(d))
            if not os.path.exists(saved):
                shutil.copytree(d, saved)
            else:
                shutil.rmtree(d)
                shutil.copytree(saved, d)

    def wave(i: int, traced: bool) -> Op:
        if i >= BASE_WAVES:
            restore()
        w = min(i, BASE_WAVES) + 1
        paths, inj = gen.write_wave(spec, w, os.path.join(work, "staging"))
        for table in ("orders", "order_items"):  # orders land first
            os.rename(paths[table], os.path.join(raw, table, os.path.basename(paths[table])))
        queries = []
        start, wall, read = bench.timed_call("streaming", lambda: queries.append(
            run_event_driven_pipeline(bench.spark, raw, out, ckpt)), traced)
        # stream jobs run on the query's thread, under its run id
        group = str(queries[0].runId)
        bench.store.settle()
        return Op(wall_s=wall, start=start, group=group, counters=bench.store.group(group),
                  read_bytes=read, touched_dates=len(inj.touched_dates))

    bench.loop(wave)
    check = os.path.join(work, "check")
    pipeline_batch.run(bench.spark, raw, check)
    if not checks.tables_equal(out, check):
        for o in bench.ops:  # the streamed state builds on every wave
            o.failed = True
    if bench.trace:
        bench.layers.update(streaming_layers(bench))


WORKLOADS = {"batch_kpi": batch_kpi, "event_waves": event_waves}


# --- per-layer metrics (traced runs) -------------------------------------


@dataclass
class Layer:
    seconds: float
    counters: Counters
    spans: list[Span]


def layers_of(bench: Bench, op: Op) -> dict[str, Layer]:
    """An operation's spans grouped by layer name, each with the counters
    of the jobs submitted while it was the innermost open span."""
    spans = [s for s in bench.tracer.spans if s.run_id == op.tag]
    owners: dict[str, list[int]] = {}
    for jid, submitted in bench.store.submitted(bench.store.job_ids(op.group)).items():
        inside = [s for s in spans if s.start <= submitted <= s.end]
        if inside:
            owners.setdefault(max(inside, key=lambda s: s.start).name, []).append(jid)
    out = {}
    for name in {s.name for s in spans}:
        mine = [s for s in spans if s.name == name]
        out[name] = Layer(sum(s.end - s.start for s in mine),
                          bench.store.jobs(owners.get(name, [])), mine)
    return out


#: Each forced layer re-runs the one beneath it; self = span - beneath.
BENEATH = {"validate": "sources", "kpi": "validate", "sinks.kv": "kpi", "sinks.files": "kpi"}


def pipeline_self(bench: Bench) -> dict[str, float]:
    """Self time, CPU and counts per pipeline layer, median over the
    traced operations."""
    rows: dict[str, list[float]] = {}
    empty = Layer(0.0, Counters(), [])
    for op in bench.traced:
        layers = layers_of(bench, op)

        def get(name: str) -> Layer:
            return layers.get(name, empty)

        def self_of(name: str) -> tuple[float, Counters]:
            mine, beneath = get(name), get(BENEATH[name])
            return mine.seconds - beneath.seconds, mine.counters - beneath.counters

        v_s, v_c = self_of("validate")
        k_s, k_c = self_of("kpi")
        kv = get("sinks.kv")
        dates = {r.split("/", 1)[1] for s in kv.spans for r in s.rewritten}
        values = {
            "sources.self_s": get("sources").seconds,
            "sources.input_mb": get("sources").counters.input_bytes / MB,
            "sources.tasks": get("sources").counters.scan_tasks,
            "validate.self_s": v_s,
            "validate.cpu_s": v_c.cpu_s,
            "validate.rows_in": sum(s.rows for s in get("sources").spans),
            "validate.rows_out": sum(s.rows for s in get("validate").spans),
            "kpi.self_s": k_s,
            "kpi.cpu_s": k_c.cpu_s,
            "kpi.shuffle_mb": k_c.shuffle_write_bytes / MB,
            "kpi.stages": k_c.stages,
            "sinks.kv.self_s": self_of("sinks.kv")[0],
            "sinks.kv.jobs": kv.counters.jobs,
            "sinks.kv.output_mb": kv.counters.output_bytes / MB,
            "sinks.kv.dates_rewritten": len(dates),
            "sinks.kv.dates_rewritten_frac": len(dates) / max(1, op.touched_dates),
        }
        if "sinks.files" in layers:
            values["sinks.files.self_s"] = self_of("sinks.files")[0]
            values["sinks.files.output_mb"] = get("sinks.files").counters.output_bytes / MB
        for k, v in values.items():
            rows.setdefault(k, []).append(v)
    return {k: median(v) for k, v in rows.items()}


def idle_s(op: Op) -> float:
    """Wall time of ``op`` during which no Spark job was running."""
    return op.wall_s - op.counters.busy_s(op.start, op.start + op.wall_s)


def pipeline_layers(bench: Bench, raw_bytes: int) -> dict[str, float]:
    plain = bench.untraced

    def m(f) -> float:
        return median([f(o) for o in plain])

    return pipeline_self(bench) | {
        "pipeline_batch.jobs": m(lambda o: o.counters.jobs),
        "pipeline_batch.stages": m(lambda o: o.counters.stages),
        "pipeline_batch.tasks": m(lambda o: o.counters.tasks),
        "pipeline_batch.shuffle_mb": m(lambda o: o.counters.shuffle_write_bytes / MB),
        "pipeline_batch.spill_mb": m(lambda o: o.counters.spill_bytes / MB),
        "pipeline_batch.driver_idle_s": m(idle_s),
        "pipeline_batch.cores_busy": m(lambda o: o.counters.run_s / o.wall_s),
        "pipeline_batch.max_task_share": m(lambda o: o.counters.max_task_share),
        "pipeline_batch.read_amplification": m(lambda o: o.counters.input_bytes / raw_bytes),
    }


def streaming_layers(bench: Bench) -> dict[str, float]:
    plain = bench.untraced

    def m(f) -> float:
        return median([f(o) for o in plain])

    # wave 1 ingests the whole history; wave 2 is the first one-day
    # wave, and every later wave is wave BASE_WAVES + 1
    first = bench.ops[1].counters.input_bytes / MB
    last = m(lambda o: o.counters.input_bytes / MB)
    return pipeline_self(bench) | {
        "streaming.jobs_per_wave": m(lambda o: o.counters.jobs),
        "streaming.stages_per_wave": m(lambda o: o.counters.stages),
        "streaming.driver_idle_s": m(idle_s),
        "streaming.cpu_s_per_wave": m(lambda o: o.counters.cpu_s),
        "streaming.input_mb_first": first,
        "streaming.input_mb_last": last,
        "streaming.input_growth": last / first if first else 0.0,
        "streaming.touched_dates": m(lambda o: o.touched_dates),
    }


# --- session and result ----------------------------------------------------


def start_session(bench: Bench, work: str) -> None:
    from real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark import get_spark

    tmp = os.path.join(work, "tmp")
    t = time.time()
    bench.spark = get_spark("perfbench", extra_conf={
        # scratch files stay inside the checkout
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # the status store must still hold every job of the run at the end
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
        "spark.ui.showConsoleProgress": "false",
    })
    bench.session_s = time.time() - t
    bench.mark("session")
    bench.spark.sparkContext.setLogLevel("ERROR")
    bench.jvm_pid = bench.spark._jvm.java.lang.ProcessHandle.current().pid()
    bench.store = StatusStore(bench.spark)


def peak_rss_mb(bench: Bench) -> float:
    """Driver JVM high-water mark plus this process's."""
    jvm_kb = 0
    with open(f"/proc/{bench.jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def result(bench: Bench, spec: dict) -> dict:
    attempted = len(bench.ops)
    failed = sum(o.failed for o in bench.ops)
    plain = bench.untraced
    if not bench.trace:
        values = {
            "setup_s": bench.setup_s,
            "op_p50_s": median([o.wall_s for o in plain]),
            "op_cpu_s": median([o.counters.cpu_s for o in plain]),
            "op_input_mb": median([o.read_bytes / MB for o in plain]),
            "ok_frac": 1 - failed / attempted,
        }
        names = spec["end_to_end"]
    else:
        values = dict(bench.layers)
        values["session.start_s"] = bench.session_s
        values["session.peak_rss_mb"] = peak_rss_mb(bench)
        values["trace.overhead_s"] = (median([o.wall_s for o in bench.traced])
                                      - median([o.wall_s for o in bench.untraced]))
        names = spec["per_layer"]
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        # a layer the workload does not run reports 0
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in names},
    }


def stop_spark(spark) -> None:
    """Stop the context and the gateway JVM, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # imported first so a checkout without the package fails before any work
    import real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark  # noqa: F401

    def on_deadline(signum, frame):
        raise TimeoutError(f"benchmark run exceeded {DEADLINE_S}s")

    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))

    bench = Bench(seed=args.seed, seconds=args.seconds, trace=bool(args.trace))
    try:
        WORKLOADS[args.workload](bench, WORK)
        bench.mark("check")
        out = result(bench, spec)
        if bench.trace:
            os.makedirs(OUT, exist_ok=True)
            bench.tracer.dump(os.path.join(OUT, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    finally:
        signal.alarm(0)
        if bench.spark is not None:
            stop_spark(bench.spark)
        shutil.rmtree(WORK, ignore_errors=True)
    bench.mark("stop")
    ops = [f"{o.wall_s:.3f}/{o.counters.cpu_s:.3f}{'T' if o.traced else ''}" for o in bench.timed]
    print(f"{args.workload}: {len(ops)} timed operations (wall/cpu seconds, T = traced) "
          f"{' '.join(ops)}; phases " + " ".join(f"{p}@{t:.1f}s" for p, t in bench.marks))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
