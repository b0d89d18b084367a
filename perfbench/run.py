"""Benchmark of record for the engine.

    python3 perfbench/run.py --workload {ingest,query_mix} \
        --seed N [--seconds S] [--trace 0|1]

Generates the workload's inputs from the seed (cached per seed under
``perfbench/.cache``), sets the session up SETUPS times, verifies every
operation once, runs the workload's untimed warm-up cycles, then runs
operations in a closed loop — one client, the next operation starts
when the previous one has finished — for a fixed
number of whole cycles, ``--seconds`` worth at the workload's nominal
seconds per cycle.  Every operation is materialised in full and its
output checked.

Prints a human summary, then as its last line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The workloads, the metrics and their units are read from
``BENCHMARK.json`` at the root of the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from pathlib import Path  # noqa: E402

import stats  # noqa: E402
from tracing import StatusCounters, Tracer, patched, self_times  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

DEFAULT_SCALE = 0.5  # input rows relative to the sf0.1 fixture
SETUPS = 3  # set-ups per run, the first cold; setup_s is their median


def load_manifest() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def parse_args(argv, manifest: dict):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[w["name"] for w in manifest["workloads"]])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=manifest["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=DEFAULT_SCALE, help="input size; 1 = sf0.1 row counts")
    return p.parse_args(argv)


# ---------------------------------------------------------------------------
# Session lifecycle.
# ---------------------------------------------------------------------------
def start_session(work: Path):
    from golang_etl_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.range(1).collect()  # first action
    return spark


def shutdown_jvm() -> None:
    """Close the gateway and wait until the JVM has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def rss_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1])
    return 0


class PeakRss:
    """Samples the resident set of the driver JVM plus this process
    every 20 ms while the ``with`` block runs; ``mb`` is the peak."""

    def __init__(self, spark):
        self.pids = (spark._jvm.ProcessHandle.current().pid(), "self")
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        while True:
            self.peak_kb = max(self.peak_kb, sum(rss_kb(p) for p in self.pids))
            if self._stop.wait(0.02):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def mb(self) -> float:
        return self.peak_kb / 1024


# ---------------------------------------------------------------------------
# The run.
# ---------------------------------------------------------------------------
def cycle_count(seconds: float, trace: bool, cycle_s: float) -> int:
    """Cycles a run measures: ``seconds`` worth at the nominal cycle
    time — fixed by the arguments, never by how fast the run happens to
    go — and an even number when tracing."""
    n = max(1, round(seconds / cycle_s))
    return n + n % 2 if trace else n


def warm_up(wl) -> list[str]:
    """``wl.warm_up_cycles`` untimed cycles over ``wl.ops``, run and
    checked in the timed loop's order, so the JIT has compiled what the
    operations run before timing starts; returns the errors."""
    errors = []
    for op in wl.ops * wl.warm_up_cycles:
        wl.release()
        try:
            err = op.check(op.run())
        except Exception as e:  # reported as incorrect
            err = f"{op.name}: {type(e).__name__}: {e}"
        if err:
            errors.append(f"warm-up {err}")
    wl.sink_stats.clear()  # only timed writes count
    return errors


def timed_loop(wl, tracer, cycles: int, trace: bool):
    """Closed loop over ``wl.ops`` for ``cycles`` whole cycles,
    releasing executor state before each operation.  With tracing,
    operations alternate between untraced and traced runs, swapping
    every cycle, so each operation runs as often either way."""
    samples, probes, errors = [], [], []
    op_id = 0
    wl.release()
    wl.leaks.clear()  # what set-up left is not an operation's leak
    for cycle in range(cycles):
        for i, op in enumerate(wl.ops):
            if samples:
                wl.release()
            traced = trace and (i + cycle) % 2 == 1
            tracer.enabled = traced
            t0 = time.perf_counter()
            try:
                with tracer.span(op.span, op=op_id, counters=True):
                    res = op.run()
                secs = time.perf_counter() - t0
                err = op.check(res)
            except Exception as e:  # a failed operation is counted, not fatal
                secs = time.perf_counter() - t0
                err = f"{op.name}: {type(e).__name__}: {e}"
            samples.append(
                {"op": op.name, "id": op_id, "seconds": secs, "traced": traced,
                 "error": err, "rows": op.input_rows}
            )
            if traced and op.probe is not None:
                try:
                    with tracer.span(f"probe.{op.name}", op=op_id):
                        probes.append(op.probe(tracer))
                except Exception as e:  # noqa: BLE001 — reported as incorrect
                    errors.append(f"probe {op.name}: {type(e).__name__}: {e}")
            op_id += 1
    wl.release()
    tracer.enabled = False
    return samples, probes, errors


def traced_views(tracer, samples):
    """Traced samples, each with its op span's index (``root``),
    counters, and the summed durations (``descendants``) and counts
    (``calls``) of the spans under it, by name."""
    spans = tracer.spans
    roots = {s.op: i for i, s in enumerate(spans) if s.parent is None and not s.name.startswith("probe.")}
    kids: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(i)
    out = []
    for smp in samples:
        if not smp["traced"] or smp["id"] not in roots:
            continue
        root = roots[smp["id"]]
        desc: dict[str, float] = {}
        calls: dict[str, int] = {}
        todo = list(kids.get(root, ()))
        while todo:
            i = todo.pop()
            desc[spans[i].name] = desc.get(spans[i].name, 0.0) + spans[i].duration
            calls[spans[i].name] = calls.get(spans[i].name, 0) + 1
            todo.extend(kids.get(i, ()))
        out.append(dict(smp, root=root, counters=spans[root].counters, descendants=desc, calls=calls))
    return out


def layer_metrics(wl, tracer, samples, probes, cores: int) -> dict:
    traced = traced_views(tracer, samples)
    n = len(traced) or 1
    tot: dict[str, float] = {}
    for t in traced:
        for k, v in (t["counters"] or {}).items():
            tot[k] = tot.get(k, 0) + v
    wall = sum(t["seconds"] for t in traced)
    selfs = self_times(tracer.spans, roots={t["root"] for t in traced})
    untraced_p50 = stats.median([s["seconds"] for s in samples if not s["traced"]])
    traced_p50 = stats.median([t["seconds"] for t in traced]) if traced else 0.0
    out = {
        "session.core_util": tot.get("task_ms", 0) / 1000 / (wall * cores) if wall else 0.0,
        "session.task_busy_s": tot.get("task_ms", 0) / 1000 / n,
        "session.jobs": tot.get("jobs", 0) / n,
        "session.tasks": tot.get("tasks", 0) / n,
        "session.shuffle_write_mb": tot.get("shuffle_write_bytes", 0) / 1e6 / n,
        "session.shuffle_read_mb": tot.get("shuffle_read_bytes", 0) / 1e6 / n,
        "session.spill_mb": tot.get("spill_bytes", 0) / 1e6 / n,
        "session.gc_s": tot.get("gc_ms", 0) / 1000 / n,
        "session.jit_s": tot.get("jit_ms", 0) / 1000 / n,
        "session.classes_loaded": tot.get("classes_loaded", 0) / n,
        "session.failed_tasks": tot.get("failed_tasks", 0) / n,
        "session.leaked_rdds": stats.mean(wl.leaks),
        "sources.load_table_s": sum(t["descendants"].get("sources.load_table", 0.0) for t in traced) / n,
        "sources.load_table_calls": sum(t["calls"].get("sources.load_table", 0) for t in traced) / n,
        **{f"self.{layer}_s": secs / n for layer, secs in selfs.items()},
        "trace.untraced_op_p50_s": untraced_p50,
        "trace.traced_op_p50_s": traced_p50,
        "trace.overhead_ratio": traced_p50 / untraced_p50 - 1 if traced else 0.0,
    }
    out.update(wl.layer_metrics(traced, probes))
    return out


def wall_shares(samples) -> dict[str, float]:
    """Each operation's share of the timed wall time."""
    total = sum(s["seconds"] for s in samples)
    out: dict[str, float] = {}
    for s in samples:
        out[s["op"]] = out.get(s["op"], 0.0) + s["seconds"] / total
    return {op: round(v, 3) for op, v in out.items()}


def set_up(wl, work: Path):
    """A session with its first action done and the workload's inputs
    registered."""
    spark = start_session(work)
    wl.register(spark)
    return spark


def run(args, work: Path, manifest: dict):
    # imports the engine, so only once the checkout is known to have it
    from workloads import WORKLOADS as IMPLS, Context

    wl = IMPLS[args.workload](
        Context(work=work, cache=HERE / ".cache", seed=args.seed, scale=args.scale)
    )
    spark = None
    try:
        t0 = time.perf_counter()
        gen_s = wl.generate()
        gen_wall = time.perf_counter() - t0

        # The first set-up is cold: process start to a registered
        # session, minus generation, so it counts the imports and the JVM
        # launch.  The others stop the session and build a new one in the
        # same JVM.
        spark = set_up(wl, work)
        setups = [time.perf_counter() - T_START - gen_wall]
        for _ in range(SETUPS - 1):
            spark.stop()
            t0 = time.perf_counter()
            spark = set_up(wl, work)
            setups.append(time.perf_counter() - t0)
        cores = spark.sparkContext.defaultParallelism

        tracer = Tracer(StatusCounters(spark) if args.trace else None)
        wl.tracer = tracer
        t0 = time.perf_counter()
        verify_failures = wl.verify()
        verify_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        verify_failures += warm_up(wl)
        warm_up_s = time.perf_counter() - t0

        cycles = cycle_count(args.seconds, bool(args.trace), wl.cycle_s)
        with PeakRss(spark) as rss, (
            patched(wl.traced_functions(tracer)) if args.trace else nullcontext()
        ):
            samples, probes, probe_errors = timed_loop(wl, tracer, cycles, bool(args.trace))

        untraced = [s for s in samples if not s["traced"]]
        times = [s["seconds"] for s in untraced]
        failed = sum(1 for s in samples if s["error"])
        if args.trace:
            values = layer_metrics(wl, tracer, samples, probes, cores)
            values["session.peak_rss_mb"] = rss.mb
            declared = manifest["per_layer"]
            out_dir = HERE / "out"
            out_dir.mkdir(exist_ok=True)
            trace_path = out_dir / f"trace-{args.workload}-s{args.seed}.json"
            tracer.dump(trace_path)
        else:
            values = {
                "setup_s": stats.median(setups),
                "op_p50_s": stats.median(times),
                "input_rows_per_s": sum(s["rows"] for s in untraced) / sum(times),
            }
            declared = manifest["end_to_end"]
            trace_path = None
        # a metric with no work on this workload reads 0
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in declared}
        p90 = stats.tail_percentile(times, 90)
        summary = {
            "workload": args.workload,
            "seed": args.seed,
            "cores": cores,
            "generate_s": round(gen_s, 3),
            "setups_s": [round(s, 3) for s in setups],
            "verify_s": round(verify_s, 3),
            "warm_up_s": round(warm_up_s, 3),
            "samples": len(times),
            "op_s": [round(t, 3) for t in times[:40]],
            "wall_share": wall_shares(untraced),
            "op_p90_s": p90 if p90 is not None else f"n/a: {len(times)} samples, needs 10 above p90",
            "failed_ratio": failed / len(samples),
            "peak_rss_mb": round(rss.mb, 1),
            **wl.report(),
            "errors": (verify_failures + probe_errors + [s["error"] for s in samples if s["error"]])[:10],
            "trace_file": str(trace_path.relative_to(ROOT)) if trace_path else None,
        }
        result = {
            "correct": not verify_failures and not probe_errors and failed == 0,
            "attempted": len(samples),
            "failed": failed,
            "metrics": metrics,
        }
        return summary, result
    finally:
        wl.close()
        if spark is not None:
            spark.stop()
        shutdown_jvm()


def main(argv=None) -> int:
    manifest = load_manifest()
    args = parse_args(argv, manifest)
    if not (ROOT / "golang_etl_spark" / "__init__.py").is_file():
        print("perfbench: golang_etl_spark is not in this checkout; nothing to measure", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    work = HERE / ".work" / f"run-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # every file the run writes stays under ``work``: Spark's scratch,
    # Python's and each JVM's temp files, Derby's log; no JVM perf-data
    # file in the system temp directory
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'} "
        f"-Dderby.stream.error.file={work / 'derby.log'}"
    )
    try:
        summary, result = run(args, work, manifest)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for k, v in summary.items():
        print(f"{k}: {v}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
