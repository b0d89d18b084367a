"""Tests for the benchmark itself: generator determinism, order
statistics, status-store delta arithmetic, span self time, the oracle
helpers, and a smoke run of each workload on a tiny seed.

    python3 -m pytest perfbench/tests -q
"""

import json
import shutil
import subprocess
import sys
from types import SimpleNamespace

import pytest

import gen
import run as bench
import stats
import tracing
from conftest import BENCH

SMALL = 0.02


# ---------------------------------------------------------------------------
# Generator determinism.
# ---------------------------------------------------------------------------
def _fingerprints(seed):
    tables = gen.star_tables(seed, SMALL)
    documents, embeddings, truth = gen.corpus_tables(seed, SMALL)
    tables.update(documents=documents, embeddings=embeddings)
    fps = {name: gen.table_fingerprint(t) for name, t in tables.items()}
    shards = {}
    for s in range(gen.SHARDS):
        for t in gen.SHARD_TABLES:
            ids, data = gen.shard_rows(seed, SMALL, s, t)
            shards[(s, t)] = (gen.id_checksum(ids), data.tobytes())
    return fps, truth, shards


def test_same_seed_same_inputs():
    assert _fingerprints(3) == _fingerprints(3)


def test_other_seed_other_inputs():
    a, truth_a, shards_a = _fingerprints(3)
    b, truth_b, shards_b = _fingerprints(4)
    # fixed-content dimensions are seed-independent; everything drawn differs
    assert a["region"] == b["region"] and a["nation"] == b["nation"]
    for name in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
        assert a[name] != b[name], name
    assert truth_a["near_doc_pairs"] != truth_b["near_doc_pairs"]
    assert shards_a[(0, "sparse_keys")] != shards_b[(0, "sparse_keys")]


def test_injected_duplicates_are_recorded():
    documents, embeddings, truth = gen.corpus_tables(5, SMALL)
    text = dict(zip(documents.column("doc_id").to_pylist(), documents.column("text").to_pylist()))
    assert len(truth["near_doc_pairs"]) == int(documents.num_rows * gen.NEAR_SHARE)
    for a, b in truth["near_doc_pairs"]:
        assert a < b
        assert gen.jaccard(text[a].split(), text[b].split()) >= gen.NEAR_MIN_JACCARD
    for a, b in truth["exact_doc_pairs"]:
        assert text[a].split() == text[b].split()
    vecs = dict(zip(embeddings.column("vec_id").to_pylist(), embeddings.column("embedding").to_pylist()))
    for a, b in truth["near_vec_pairs"]:
        va, vb = vecs[a], vecs[b]
        dot = sum(x * y for x, y in zip(va, vb))
        cos = dot / (sum(x * x for x in va) ** 0.5 * sum(y * y for y in vb) ** 0.5)
        assert cos > 0.9


def test_shard_ids_are_disjoint_and_checksummed():
    ids0, _ = gen.shard_rows(1, SMALL, 0, "sparse_keys")
    ids1, _ = gen.shard_rows(1, SMALL, 1, "sparse_keys")
    assert len(set(ids0)) == len(ids0) and not set(ids0) & set(ids1)
    assert gen.id_checksum(ids0[::-1]) == gen.id_checksum(ids0)
    assert gen.id_checksum(ids0[1:]) != gen.id_checksum(ids0)


# ---------------------------------------------------------------------------
# Order statistics.
# ---------------------------------------------------------------------------
def test_nearest_rank():
    xs = [15, 20, 35, 40, 50]
    assert stats.nearest_rank(xs, 30) == 20
    assert stats.nearest_rank(xs, 40) == 20
    assert stats.nearest_rank(xs, 50) == 35
    assert stats.nearest_rank(xs, 100) == 50
    assert stats.nearest_rank([7], 90) == 7
    with pytest.raises(ValueError):
        stats.nearest_rank([], 50)
    with pytest.raises(ValueError):
        stats.nearest_rank(xs, 0)


def test_tail_percentile_needs_ten_samples_above():
    assert stats.tail_percentile(list(range(1, 100)), 90) is None  # 9 above p90 = 90
    xs = list(range(1, 101))
    assert stats.nearest_rank(xs, 90) == 90
    assert stats.tail_percentile(xs, 90) == 90  # 91..100: ten above
    assert stats.tail_percentile([1.0] * 200, 90) is None  # ties are not above
    assert stats.tail_percentile([], 90) is None


def test_rel_spread():
    xs = [10, 10, 10, 10]
    assert stats.rel_spread(xs) == 0
    q1, _, q3 = __import__("statistics").quantiles([1, 2, 3, 4, 5], n=4)
    assert stats.rel_spread([1, 2, 3, 4, 5]) == (q3 - q1) / 3


# ---------------------------------------------------------------------------
# Status-store deltas.
# ---------------------------------------------------------------------------
def _stage(task_ms, tasks=1, failed=0, **kw):
    row = dict.fromkeys(tracing.STAGE_FIELDS, 0)
    row.update(task_ms=task_ms, tasks=tasks, failed_tasks=failed, **kw)
    row.pop("stages")
    return row


def test_stage_totals_add_and_delta():
    t = tracing.stage_totals([_stage(100, 4), _stage(50, 2, 1, shuffle_write_bytes=10)])
    assert t["task_ms"] == 150 and t["tasks"] == 6 and t["failed_tasks"] == 1
    assert t["stages"] == 2 and t["shuffle_write_bytes"] == 10
    a = dict.fromkeys(tracing.COUNTER_FIELDS, 0)
    b = tracing.add(a, dict(t, jobs=3))
    c = tracing.add(b, dict(tracing.stage_totals([_stage(5)]), jobs=1))
    assert tracing.delta(b, c) == dict(tracing.stage_totals([_stage(5)]), jobs=1, jit_ms=0, classes_loaded=0)
    assert tracing.delta(a, c)["jobs"] == 4 and tracing.delta(a, c)["task_ms"] == 155


class _FakeStage:
    def __init__(self, ms):
        self.ms = ms

    def executorRunTime(self):
        return self.ms

    def jvmGcTime(self):
        return 1

    def shuffleReadBytes(self):
        return 0

    def shuffleWriteBytes(self):
        return 0

    def diskBytesSpilled(self):
        return 0

    def numCompleteTasks(self):
        return 2

    def numFailedTasks(self):
        return 0


class _FakeContext:
    """Stands in for the JVM SparkContext: each ``run`` adds one job and
    its stages, 3 ms of JIT compilation and 10 loaded classes; a
    ``None`` stage id was taken but never registered."""

    def __init__(self):
        self.stages, self.jobs, self.jit_ms, self.classes = [], 0, 0, 0

    def run(self, *ms, unregistered=0):
        self.stages += [None] * unregistered + [_FakeStage(m) for m in ms]
        self.jobs += 1
        self.jit_ms += 3
        self.classes += 10

    def management_factory(self):
        return SimpleNamespace(
            getCompilationMXBean=lambda: SimpleNamespace(getTotalCompilationTime=lambda: self.jit_ms),
            getClassLoadingMXBean=lambda: SimpleNamespace(getTotalLoadedClassCount=lambda: self.classes),
        )

    def dagScheduler(self):
        return SimpleNamespace(nextStageId=lambda: len(self.stages), nextJobId=lambda: self.jobs)

    def listenerBus(self):
        return SimpleNamespace(waitUntilEmpty=lambda: None)

    def statusStore(self):
        def last(i):
            if self.stages[i] is None:
                raise LookupError(i)
            return self.stages[i]

        return SimpleNamespace(lastStageAttempt=last)


def test_status_counters_read_each_stage_once():
    fake = _FakeContext()
    fake.run(5)  # before the counters exist: never counted
    mf = fake.management_factory()
    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(_jsc=SimpleNamespace(sc=lambda: fake)),
        _jvm=SimpleNamespace(java=SimpleNamespace(lang=SimpleNamespace(management=SimpleNamespace(ManagementFactory=mf)))),
    )
    counters = tracing.StatusCounters(spark)
    r0 = counters.read()
    assert r0["task_ms"] == 0 and r0["jobs"] == 0
    fake.run(100, 20, unregistered=1)
    r1 = counters.read()
    assert tracing.delta(r0, r1) == dict(
        task_ms=120, gc_ms=2, shuffle_read_bytes=0, shuffle_write_bytes=0, spill_bytes=0,
        tasks=4, failed_tasks=0, stages=2, jobs=1, jit_ms=3, classes_loaded=10,
    )
    assert counters.read() == r1  # nothing new: no change
    fake.run(7)
    assert tracing.delta(r1, counters.read())["task_ms"] == 7


# ---------------------------------------------------------------------------
# Spans.
# ---------------------------------------------------------------------------
def _span(name, start, end, parent=None):
    return tracing.Span(name, start, end, parent, 0)


def test_self_times_subtract_children_once():
    spans = [
        _span("etl.run_jobspec", 0.0, 10.0),
        _span("etl.extract_table", 1.0, 9.0, 0),
        _span("etl.read_shard_table", 1.0, 3.0, 1),
        _span("sources.load_table", 2.0, 4.0, 1),  # overlaps its sibling
        _span("probe.x", 20.0, 25.0),
    ]
    got = tracing.self_times(spans, roots={0})
    assert got["etl"] == pytest.approx(2.0 + 5.0 + 2.0)  # 10-8, 8-3, 2
    assert got["sources"] == pytest.approx(2.0)
    assert "probe" not in got
    assert tracing.self_times(spans)["probe"] == pytest.approx(5.0)


def test_tracer_records_only_when_enabled():
    t = tracing.Tracer()
    with t.span("a.x", op=1):
        pass
    assert t.spans == []
    t.enabled = True
    with t.span("a.x", op=1):
        with t.span("b.y"):
            pass
    assert [(s.name, s.parent, s.op) for s in t.spans] == [("a.x", None, 1), ("b.y", 0, 1)]
    wrapped = t.wrap(lambda v: v + 1, "c.z")
    assert wrapped(1) == 2 and t.spans[-1].name == "c.z" and t.spans[-1].op is None


def test_patched_rebinds_and_restores():
    from golang_etl_spark.sources import catalog
    from golang_etl_spark.operators import dedup

    original = catalog.load_table
    calls = []

    def wrapper_for(f):
        def w(*a, **k):
            calls.append(a[2])
            return f(*a, **k)

        return w

    with tracing.patched([(catalog, "load_table", wrapper_for)]):
        assert catalog.load_table is not original
        assert dedup.load_table is catalog.load_table  # the ``from`` copy too
    assert catalog.load_table is original and dedup.load_table is original


# ---------------------------------------------------------------------------
# Oracle helpers.
# ---------------------------------------------------------------------------
def test_removed_by_keep_one_and_recall():
    import workloads

    assert workloads.removed_by_keep_one([(3, 5), (5, 9), (1, 2), (9, 4)]) == [2, 4, 5, 9]
    assert workloads.recall([(1, 2), (3, 4)], [[1, 2], [5, 6]]) == 0.5
    assert workloads.recall([], []) == 1.0


# ---------------------------------------------------------------------------
# The command.
# ---------------------------------------------------------------------------
MANIFEST = bench.load_manifest()


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".cache", ".work", "out"))
    shutil.copy(BENCH.parent / "BENCHMARK.json", tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


@pytest.mark.parametrize("workload", [w["name"] for w in MANIFEST["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace):
    proc = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "0", "--trace", str(trace), "--scale", "0.05"],
        cwd=BENCH.parent, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, proc.stdout
    declared = MANIFEST["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in declared]
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], float), name
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
