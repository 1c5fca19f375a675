"""Per-layer tracing for the benchmark, recorded from outside the program.

Two sources, both read without changing `openue_spark`:

- Spans. `Tracer.install()` wraps `session.job_phase`, which the job and
  the linking layer use to label their Spark jobs, and the two eager
  functions of the fold that carry no label of their own, each at the
  module attribute where its caller looks it up. A span is (name, start,
  end, parent); spans live in memory until the run ends.
- Spark's stage records. `JobRecords` reads the AppStatusStore of the live
  session for the jobs submitted inside a region and groups their stages by
  job description, i.e. by the `job_phase` labels and the labels the
  benchmark sets around its own calls.

Lazy plan functions (`mention_state`, `mapping_delta`, `triangle_stats`,
`score_requests`, the dedup pair functions) are not wrapped: a span around
one would time only plan building. Their compute runs inside a labelled
block, so each layer entry's compute comes from the stage records of its
labels and its wall from the spans of the labelled blocks.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time
from dataclasses import dataclass, field

# (entry name, labels whose jobs belong to it). A job belongs to an entry
# when one of the entry's labels is a segment of the job description
# ("linking/verify+cc/cc-driver-finish" belongs to linking.link_entities
# and to linking.verify_cc).
ENTRIES: list[tuple[str, tuple[str, ...]]] = [
    ("materialize.run_extraction_resumable", ("extract",)),
    ("linking.mention_state", ("mention-state",)),
    ("linking.link_entities", ("linking",)),
    ("linking.verify_cc", ("verify+cc",)),
    ("linking.canonicalize", ("canonicalize",)),
    ("materialize.write_triple_table", ("graph-write",)),
    ("graph.graph_stats", ("graph-stats", "graph-hubs")),
    ("incremental.fold_batch_into_kg", ("fold",)),
    ("linking.link_entities_increment", ("link-increment",)),
    ("serving.score_requests", ("serve",)),
    ("dedup.ngram_jaccard_pairs", ("ngram_jaccard_pairs",)),
    ("dedup.winnow_near_dup_pairs", ("winnow_near_dup_pairs",)),
    ("dedup.minhash_verified_pairs", ("minhash_verified_pairs",)),
]
FIELDS = (
    ("wall_s", "s"),
    ("executor_s", "s"),
    ("gc_s", "s"),
    ("tasks", "count"),
    ("shuffle_read_mb", "MB"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("task_skew", "ratio"),
)
# labels connected_components puts on its jobs (linking.py)
CC_LABELS = ("edges-gate-probe", "cc-driver-finish", "cc-propagate")

# (module, attribute) -> job label of the wrapped call, so the stage records
# of its work can be told apart from its caller's. `job.main` imports
# fold_batch_into_kg at call time; `pipeline.incremental` binds
# link_entities_increment at import, so it is patched in that namespace.
LABELLED = {
    ("openue_spark.pipeline.incremental", "fold_batch_into_kg"): "fold",
    ("openue_spark.pipeline.incremental", "link_entities_increment"): "link-increment",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None


@dataclass
class Tracer:
    """In-memory spans; `install()` patches, `uninstall()` restores."""

    spark: object
    spans: list[Span] = field(default_factory=list)
    returns: dict[str, list] = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)
    _saved: list[tuple[object, str, object]] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append(
            Span(name, time.perf_counter(), 0.0, self._stack[-1] if self._stack else None)
        )
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def label(self, name: str, spark=None):
        """A job label through the program's own `job_phase` (so labels
        nest the way the program's do), plus a span of the block."""
        stack = contextlib.ExitStack()
        stack.enter_context(self.span("phase:" + name))
        stack.enter_context(self._job_phase(spark or self.spark, name))
        return stack

    def install(self) -> None:
        from openue_spark import session

        self._job_phase = session.job_phase
        self._patch(session, "job_phase", lambda spark, name: self.label(name, spark))
        for (mod_name, attr), label in LABELLED.items():
            mod = importlib.import_module(mod_name)
            self._patch(mod, attr, self._wrap(f"{mod_name.rsplit('.', 1)[-1]}.{attr}", label, getattr(mod, attr)))

    def uninstall(self) -> None:
        while self._saved:
            mod, attr, orig = self._saved.pop()
            setattr(mod, attr, orig)

    def _patch(self, mod, attr, new) -> None:
        self._saved.append((mod, attr, getattr(mod, attr)))
        setattr(mod, attr, new)

    def _wrap(self, name: str, label: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name), self.label(label):
                result = fn(*args, **kwargs)
            self.returns.setdefault(name, []).append(result)
            return result

        return wrapper

    def phase_wall(self, labels: tuple[str, ...]) -> float:
        """Summed wall of the outermost spans of the given phase labels."""
        names = {"phase:" + lab for lab in labels}
        total = 0.0
        for s in self.spans:
            if s.name not in names:
                continue
            p = s.parent
            nested = False
            while p is not None:
                if self.spans[p].name in names:
                    nested = True
                    break
                p = self.spans[p].parent
            if not nested:
                total += s.end - s.start
        return total


def _opt(o):
    return o.get() if o.isDefined() else None


class JobRecords:
    """Stage records of the Spark jobs submitted between `start()` and
    `stop()`, read from the live AppStatusStore (no event log, works with
    the UI disabled)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._before: set[int] = set()
        self.jobs: list[dict] = []
        self.stages: dict[tuple[int, int], dict] = {}

    def _job_ids(self) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    def start(self) -> None:
        self._before = self._job_ids()

    def stop(self) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm = self.sc._jvm
        empty = jvm.java.util.ArrayList()
        no_q = self.sc._gateway.new_array(jvm.double, 0)
        for jid in sorted(self._job_ids() - self._before):
            jd = store.job(jid)
            desc = _opt(jd.description()) or ""
            stage_ids = list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(jd.stageIds()))
            self.jobs.append({"desc": desc})
            for sid in stage_ids:
                try:
                    attempts = store.stageData(int(sid), False, empty, False, no_q)
                except Exception:  # py4j error: stage never registered
                    continue
                for sd in jvm.scala.jdk.javaapi.CollectionConverters.asJava(attempts):
                    key = (sd.stageId(), sd.attemptId())
                    if key in self.stages:
                        continue
                    self.stages[key] = {
                        "desc": desc,
                        "tasks": sd.numCompleteTasks(),
                        "run_ms": sd.executorRunTime(),
                        "gc_ms": sd.jvmGcTime(),
                        "sr_bytes": sd.shuffleReadBytes(),
                        "sw_bytes": sd.shuffleWriteBytes(),
                        "sw_records": sd.shuffleWriteRecords(),
                        "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    }
        self._store = store

    def task_skew(self, key: tuple[int, int]) -> float:
        """max / median task run time of one stage."""
        jvm = self.sc._jvm
        q = self.sc._gateway.new_array(jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        dist = _opt(self._store.taskSummary(key[0], key[1], q))
        if dist is None:
            return 0.0
        run = dist.executorRunTime()
        med, mx = float(run.apply(0)), float(run.apply(1))
        return mx / max(med, 1.0)

    def jobs_with(self, labels: tuple[str, ...]) -> list[dict]:
        return [j for j in self.jobs if set(j["desc"].split("/")) & set(labels)]

    def entry(self, labels: tuple[str, ...]) -> dict:
        """Summed stage metrics of the jobs carrying any of `labels`."""
        keys = [k for k, s in self.stages.items() if set(s["desc"].split("/")) & set(labels)]
        st = [self.stages[k] for k in keys]
        out = {
            "executor_s": sum(s["run_ms"] for s in st) / 1e3,
            "gc_s": sum(s["gc_ms"] for s in st) / 1e3,
            "tasks": sum(s["tasks"] for s in st),
            "shuffle_read_mb": sum(s["sr_bytes"] for s in st) / 1e6,
            "shuffle_write_mb": sum(s["sw_bytes"] for s in st) / 1e6,
            "shuffle_write_records": sum(s["sw_records"] for s in st),
            "spill_mb": sum(s["spill_bytes"] for s in st) / 1e6,
            "task_skew": 0.0,
        }
        if keys:
            # skew of the stage that costs the most executor time: the one
            # whose slowest task the entry waits for longest
            out["task_skew"] = self.task_skew(max(keys, key=lambda k: self.stages[k]["run_ms"]))
        return out


def layer_metrics(tracer: Tracer, records: JobRecords, n_ops: int) -> dict[str, float]:
    """The eight fields of every entry whose labels ran a Spark job, per
    traced operation group."""
    out: dict[str, float] = {}
    for name, labels in ENTRIES:
        if not records.jobs_with(labels):
            continue  # the workload does not exercise this entry
        m = records.entry(labels)
        m["wall_s"] = tracer.phase_wall(labels)
        for f, _unit in FIELDS:
            v = m[f]
            out[f"{name}.{f}"] = v if f == "task_skew" else v / n_ops
    return out
