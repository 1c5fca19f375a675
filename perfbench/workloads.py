"""The benchmark's workloads. Each one owns its inputs (a pure function of
the seed), a warm-up that is discarded, one timed operation group, and the
check of every output against `checks`.

A seed selects a disjoint window of the fixture's global turn index
(`fixtures.transcripts_*` are pure functions of that index), or seeds the
document generator of `near_dup`.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

from . import checks, trace

# turns per seed window; every seed's inputs sit inside its own window
SEED_SPAN = 100_000
SIZES = {
    # kg_job: warm-up turns, raw triples built, raw triples in the folded
    # batch (about 1,000 and 200 turns)
    "kg_job": {"default": (200, 1400, 280), "small": (80, 560, 112)},
    # serve_requests: requests per call, distinct timed batches, warm-up calls
    "serve_requests": {"default": (64, 32, 25), "small": (16, 4, 2)},
    # near_dup: documents (before the contract plants its near-copies),
    # warm-up passes
    "near_dup": {"default": (2400, 1), "small": (200, 1)},
}


def _window(seed: int, start: int, n: int) -> pd.DataFrame:
    from openue_spark.fixtures import transcripts_pandas

    return transcripts_pandas(n, start=(1 + seed) * SEED_SPAN + start)


def _turns_holding(seed: int, start: int, n_triples: int) -> int:
    """The fewest turns from `start` that hold `n_triples` reference triples.
    The yield per turn differs by about 8% between seed windows while the
    job's wall barely depends on the data, so a fixed triple count keeps the
    seed from moving triples/s."""
    from openue_spark.oracle import extract_turn

    # every window seen yields 1.3-1.6 triples a turn
    counts = np.cumsum([len(extract_turn(t)) for t in _window(seed, start, n_triples)["text"]])
    if counts[-1] < n_triples:
        raise ValueError(f"seed {seed}: {n_triples} turns from {start} hold only {counts[-1]} triples")
    return int(np.searchsorted(counts, n_triples)) + 1


@contextlib.contextmanager
def _quiet():
    """The job reports progress on stdout; the benchmark's stdout carries
    only its result line."""
    with contextlib.redirect_stdout(sys.stderr):
        yield


@dataclass
class Op:
    """One timed operation: its wall and the items it processed."""

    name: str
    wall: float
    items: int


class KgJob:
    """The spark-submit KG job end to end, through `job.main`.

    Set-up warms the process with a small `--no-link` job (JVM, Python
    workers, the extraction kernel, manifest and graph writes); its output
    is discarded. One timed group runs a full build of a seeded window with
    `--graph-stats`, then folds a disjoint seeded batch into that KG with
    `--increment`. Each window is as many turns as hold a fixed number of
    raw triples. Items are raw triples (the paper's triples/s). Between the
    two jobs, untimed, the build's outputs are read for the check.
    """

    name = "kg_job"
    ops_per_group = 2

    def __init__(self, spark, work: str, refs: str, seed: int, size: str):
        self.spark, self.work, self.refs, self.seed, self.size = spark, work, refs, seed, size
        n_warm, build_triples, batch_triples = SIZES["kg_job"][size]
        build_start = SEED_SPAN // 4
        n_build = _turns_holding(seed, build_start, build_triples)
        batch_start = build_start + n_build
        self.windows = {
            "warm": (0, n_warm),
            "build": (build_start, n_build),
            "batch": (batch_start, _turns_holding(seed, batch_start, batch_triples)),
        }
        self.outputs: dict[int, tuple[str, dict]] = {}

    def _path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def _run_job(self, *args: str) -> None:
        from openue_spark import job

        with _quiet():
            rc = job.main(list(args), spark=self.spark)
        if rc != 0:
            raise RuntimeError(f"job.main {args} returned {rc}")

    def setup(self) -> None:
        for name, (start, n) in self.windows.items():
            self.spark.createDataFrame(_window(self.seed, start, n)).repartition(4).write.parquet(
                self._path("in", name)
            )
        self._run_job("--input", self._path("in", "warm"), "--out", self._path("warm"), "--no-link")
        shutil.rmtree(self._path("warm"))

    def group(self, i: int, label) -> list[Op]:
        # the job labels its own phases; `label` is not needed here
        out = self._path(f"kg{i}")
        t0 = time.perf_counter()
        self._run_job("--input", self._path("in", "build"), "--out", out, "--graph-stats")
        build_wall = time.perf_counter() - t0
        built = {
            "build_raw": checks.read_raw(out),
            "build_mapping": checks.read_mapping(out),
            "build_graph": checks.read_graph(out),
        }
        t0 = time.perf_counter()
        self._run_job("--input", self._path("in", "batch"), "--out", out, "--increment")
        fold_wall = time.perf_counter() - t0
        self.outputs[i] = (out, built)
        n_fold = len(checks.read_increment_raw(out))
        return [Op("build", build_wall, len(built["build_raw"])), Op("fold", fold_wall, n_fold)]

    def references(self) -> dict[str, pd.DataFrame]:
        def compute():
            return {
                name: checks.oracle_triples(_window(self.seed, start, n))
                for name, (start, n) in self.windows.items()
                if name != "warm"
            }

        return checks.cached(checks.cache_path(self.refs, self.name, self.seed, self.size, self.windows), compute)

    def outputs_of(self, i: int) -> dict[str, pd.DataFrame]:
        out, built = self.outputs[i]
        return {
            **built,
            "fold_base_raw": checks.read_raw(out),
            "fold_raw": checks.read_increment_raw(out),
            "fold_mapping": checks.read_mapping(out),
            "fold_graph": checks.read_graph(out),
        }

    def check(self, out: dict[str, pd.DataFrame], refs: dict[str, pd.DataFrame]) -> list[str]:
        folded = pd.concat([refs["build"], refs["batch"]], ignore_index=True)
        return (
            checks.check_raw(out["build_raw"], refs["build"], "build raw triples")
            + checks.check_mapping(out["build_mapping"], refs["build"], "build mapping")
            + checks.check_graph(out["build_graph"], refs["build"], out["build_mapping"], "build graph")
            + checks.check_raw(out["fold_base_raw"], refs["build"], "raw triples after the fold")
            + checks.check_raw(out["fold_raw"], refs["batch"], "fold raw triples")
            + checks.check_mapping(out["fold_mapping"], folded, "folded mapping")
            + checks.check_no_split(out["build_mapping"], out["fold_mapping"])
            + checks.check_graph(out["fold_graph"], folded, out["fold_mapping"], "folded graph")
        )

    def corrupt(self, out: dict, case) -> dict:
        return {**out, "fold_graph": case(out["fold_graph"])}

    def counts(self, out: dict, tracer, records, n_traced: int) -> dict[str, float]:
        m = out["build_mapping"]
        sizes = m.groupby("canonical_id").size()
        stats = tracer.returns["incremental.fold_batch_into_kg"][-1]
        n_after = len(out["fold_mapping"])
        return {
            "linking.cc_jobs": len(records.jobs_with(trace.CC_LABELS)) / n_traced,
            "linking.mentions": len(m),
            "linking.components": len(sizes),
            "linking.largest_component_share": float(sizes.max()) / max(len(m), 1),
            "incremental.changed_mentions": stats["n_changed"],
            "incremental.changed_share": stats["n_changed"] / max(n_after, 1),
        }


class ServeRequests:
    """Closed-loop serving with one client: each call waits for its reply
    before the next is sent. A call is `createDataFrame` of a fixed-size
    request batch, `score_requests`, and `collect`."""

    name = "serve_requests"
    ops_per_group = 1

    def __init__(self, spark, work: str, refs: str, seed: int, size: str):
        self.spark, self.refs, self.seed, self.size = spark, refs, seed, size
        self.per_call, self.n_batches, self.n_warm = SIZES["serve_requests"][size]
        turns = _window(seed, 0, self.per_call * (self.n_batches + 2))
        self.pool = pd.DataFrame(
            {
                "request_id": [f"req-{seed}-{k:06d}" for k in range(len(turns))],
                "text": turns["text"].to_numpy(),
            }
        )
        self.outputs: dict[int, tuple[int, list]] = {}
        self.create_df_s: list[float] = []

    def _batch(self, b: int) -> pd.DataFrame:
        return self.pool.iloc[b * self.per_call : (b + 1) * self.per_call]

    def _call(self, b: int) -> list:
        from openue_spark.serving import REQUEST_SCHEMA, score_requests

        t0 = time.perf_counter()
        df = self.spark.createDataFrame(self._batch(b), schema=REQUEST_SCHEMA)
        self.create_df_s.append(time.perf_counter() - t0)
        return score_requests(df).collect()

    def setup(self) -> None:
        # the first call takes about 5 s and per-call time keeps falling for
        # 10-20 more as the JVM compiles the planning path; the warm-up
        # cycles the pool's last two batches
        for k in range(self.n_warm):
            self._call(self.n_batches + k % 2)
        self.create_df_s.clear()

    def group(self, i: int, label) -> list[Op]:
        b = i % self.n_batches
        t0 = time.perf_counter()
        with label("serve"):
            rows = self._call(b)
        wall = time.perf_counter() - t0
        self.outputs[i] = (b, rows)
        return [Op("call", wall, self.per_call)]

    def references(self) -> pd.DataFrame:
        return checks.cached(
            checks.cache_path(self.refs, self.name, self.seed, self.size, (SEED_SPAN, len(self.pool))),
            lambda: checks.oracle_responses(self.pool),
        )

    def outputs_of(self, i: int):
        b, rows = self.outputs[i]
        return b, pd.DataFrame(
            [tuple(r) for r in rows], columns=["request_id", "subject", "predict", "object"]
        )

    def check(self, out, refs: pd.DataFrame) -> list[str]:
        b, rows = out
        ids = set(self._batch(b)["request_id"])
        return checks.check_responses(rows, refs[refs["request_id"].isin(ids)])

    def corrupt(self, out, case):
        return out[0], case(out[1])

    def counts(self, out, tracer, records, n_traced: int) -> dict[str, float]:
        serve = records.entry(("serve",))
        return {
            "serving.jobs_per_call": len(records.jobs_with(("serve",))) / n_traced,
            "serving.tasks_per_call": serve["tasks"] / n_traced,
            "serving.create_df_ms": 1e3 * float(np.median(self.create_df_s)),
        }


# a vocabulary in the style of the documents table the contract queries read
_VOCAB = (
    "scan column window order sort part agg value line key join merge group"
    " query a vector hash slow stream filter fast the batch spark table small"
    " data big customer row"
).split()
_LANGS = ["en", "en", "fr", "es", "zh", "de"]
DEDUP_OPS = ["ngram_jaccard_pairs", "winnow_near_dup_pairs", "minhash_verified_pairs"]


def documents(seed: int, n: int) -> pd.DataFrame:
    """A seeded table with the contract's `documents` schema. doc_id stays
    below 1,000,000, where the contract plants its near-copies."""
    rng = np.random.default_rng(seed)
    lengths = rng.integers(8, 90, size=n)
    vocab = np.array(_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), size=k)]) for k in lengths]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), size=n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


class NearDup:
    """The three near-duplicate pair queries through their contract
    query functions, collected one after another over a seeded documents
    table."""

    name = "near_dup"
    ops_per_group = len(DEDUP_OPS)

    def __init__(self, spark, work: str, refs: str, seed: int, size: str):
        self.spark, self.refs, self.seed, self.size = spark, refs, seed, size
        self.n_docs, self.n_warm = SIZES["near_dup"][size]
        self.docs_dir = os.path.join(work, "docs")
        self.outputs: dict[int, dict] = {}

    def _run(self, name: str):
        from openue_spark import contract

        df = getattr(contract, f"q_{name}")(self.spark, self.docs_dir)
        return df.columns, [tuple(r) for r in df.collect()]

    def setup(self) -> None:
        os.makedirs(self.docs_dir)
        documents(self.seed, self.n_docs).to_parquet(
            os.path.join(self.docs_dir, "documents.parquet"), index=False
        )
        for _ in range(self.n_warm):
            for name in DEDUP_OPS:
                self._run(name)

    def group(self, i: int, label) -> list[Op]:
        ops, out = [], {}
        for name in DEDUP_OPS:
            t0 = time.perf_counter()
            with label(name):
                out[name] = self._run(name)
            ops.append(Op(name, time.perf_counter() - t0, self.n_docs))
        self.outputs[i] = out
        return ops

    def references(self):
        return checks.cached(
            checks.cache_path(self.refs, self.name, self.seed, self.size, (self.n_docs, _VOCAB)),
            lambda: checks.duckdb_pairs(self.docs_dir, DEDUP_OPS),
        )

    def outputs_of(self, i: int):
        return self.outputs[i]

    def check(self, out, refs) -> list[str]:
        return [p for name in DEDUP_OPS for p in checks.check_pairs(name, *out[name], refs[name])]

    def corrupt(self, out, case):
        name = DEDUP_OPS[0]
        return {**out, name: (out[name][0], case(out[name][1]))}

    def counts(self, out, tracer, records, n_traced: int) -> dict[str, float]:
        counts = {}
        for name in DEDUP_OPS:
            pairs = len(out[name][1])
            records_written = records.entry((name,))["shuffle_write_records"] / n_traced
            counts[f"dedup.{name}.pairs_out"] = pairs
            counts[f"dedup.{name}.pairs_per_shuffle_record"] = (
                pairs / records_written if records_written else 0.0
            )
        return counts


WORKLOADS = {w.name: w for w in (KgJob, ServeRequests, NearDup)}
