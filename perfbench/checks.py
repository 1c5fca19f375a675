"""Reference outputs and output checks for every workload.

No check shares the timed code path: raw triples come from
`openue_spark.oracle` (the single-process numpy reference), graphs are
recomputed in pandas, and the near-dup pairs come from the contract's DuckDB
SQL. Outputs are read back with pyarrow, not Spark. Each check returns a
list of problems; an empty list means the output is correct.

`NEGATIVE_CASES` holds the corruptions the self-test applies to correct
outputs; each must make its check report a problem.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os
from collections import Counter

import pandas as pd
import pyarrow.dataset as ds

TRIPLE_COLS = ["conv_id", "turn_idx", "subj", "rel_id", "pred", "obj"]
GRAPH_COLS = ["subj", "pred", "obj", "support", "first_conv"]


# --- references ---------------------------------------------------------


def oracle_triples(transcripts: pd.DataFrame) -> pd.DataFrame:
    """Raw reference triples of a transcript window, duplicates kept."""
    from openue_spark.oracle import extract_corpus

    rows = zip(transcripts["conv_id"], transcripts["turn_idx"], transcripts["text"])
    out = pd.DataFrame(
        [(t.conv_id, t.turn_idx, t.subj, t.rel_id, t.pred, t.obj) for t in extract_corpus(rows)],
        columns=TRIPLE_COLS,
    )
    return out.astype({"turn_idx": "int64", "rel_id": "int64"})


def oracle_responses(requests: pd.DataFrame) -> pd.DataFrame:
    """(request_id, subject, predict, object) per request, from the oracle."""
    from openue_spark.config import ID2REL
    from openue_spark.oracle import extract_turn

    rows = [
        (rid, s, ID2REL[k], o)
        for rid, text in zip(requests["request_id"], requests["text"])
        for k, s, o in extract_turn(text)
    ]
    return pd.DataFrame(rows, columns=["request_id", "subject", "predict", "object"])


def duckdb_pairs(docs_dir: str, names: list[str]) -> dict[str, tuple[list, list]]:
    """The contract's DuckDB oracle rows for each near-dup query."""
    import duckdb

    from openue_spark.contract import oracle_sql

    sql = oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{docs_dir}/documents.parquet')"
        )
        out = {}
        for name in names:
            cur = con.execute(sql[name])
            out[name] = ([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


# --- readers --------------------------------------------------------------


def read_table(path: str, partitioned: bool = True) -> pd.DataFrame:
    """A Spark-written parquet directory read back with pyarrow (hive
    partition columns decoded)."""
    return ds.dataset(path, format="parquet", partitioning="hive" if partitioned else None).to_table().to_pandas()


def read_raw(out_dir: str) -> pd.DataFrame:
    return read_table(f"{out_dir}/triples")[TRIPLE_COLS]


def read_increment_raw(out_dir: str) -> pd.DataFrame:
    parts = [read_raw(d) for d in sorted(glob.glob(f"{out_dir}/increments/*"))]
    return pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(columns=TRIPLE_COLS)


def read_mapping(out_dir: str) -> pd.DataFrame:
    return read_table(f"{out_dir}/mapping", partitioned=False)


def read_graph(out_dir: str) -> pd.DataFrame:
    return read_table(f"{out_dir}/graph")[GRAPH_COLS]


# --- checks ---------------------------------------------------------------


def _rows(df: pd.DataFrame, cols: list[str]) -> Counter:
    return Counter(map(tuple, df[cols].astype(str).itertuples(index=False, name=None)))


def _diff(what: str, got: Counter, want: Counter) -> list[str]:
    if got == want:
        return []
    extra, missing = got - want, want - got
    return [
        f"{what}: {sum(extra.values())} unexpected rows (e.g. {list(extra)[:2]}),"
        f" {sum(missing.values())} missing rows (e.g. {list(missing)[:2]})"
    ]


def check_raw(raw: pd.DataFrame, ref: pd.DataFrame, what: str) -> list[str]:
    """Raw triples equal the oracle multiset."""
    return _diff(what, _rows(raw, TRIPLE_COLS), _rows(ref, TRIPLE_COLS))


def check_mapping(mapping: pd.DataFrame, ref: pd.DataFrame, what: str) -> list[str]:
    """One row per distinct oracle subject and object; each canonical is its
    group's shortest member, then the least."""
    problems = []
    want = set(ref["subj"]) | set(ref["obj"])
    got = mapping["mention"]
    if got.duplicated().any():
        problems.append(f"{what}: {int(got.duplicated().sum())} duplicate mention rows")
    if set(got) != want:
        problems.append(
            f"{what}: mentions differ from the oracle's subjects and objects"
            f" ({len(set(got) - want)} unexpected, {len(want - set(got))} missing)"
        )
    for _cid, grp in mapping.groupby("canonical_id"):
        members = list(grp["mention"])
        rep = min(members, key=lambda m: (len(m), m))
        if set(grp["canonical"]) != {rep}:
            problems.append(f"{what}: group of {rep!r} has canonical {sorted(set(grp['canonical']))[:2]}")
            break
    return problems


def check_no_split(prior: pd.DataFrame, after: pd.DataFrame) -> list[str]:
    """A fold never splits a component of the prior mapping."""
    canon = dict(zip(after["mention"], after["canonical"]))
    for _c, grp in prior.groupby("canonical"):
        new = {canon.get(m) for m in grp["mention"]}
        if len(new) != 1 or None in new:
            return [f"fold split the prior component of {_c!r} into {len(new)} parts"]
    return []


def recompute_graph(ref: pd.DataFrame, mapping: pd.DataFrame) -> pd.DataFrame:
    """Oracle triples rewritten through the run's mapping, grouped by
    (subj, pred, obj) with support = count and first_conv = min."""
    canon = dict(zip(mapping["mention"], mapping["canonical"]))
    t = ref.assign(
        subj=ref["subj"].map(lambda m: canon.get(m, m)),
        obj=ref["obj"].map(lambda m: canon.get(m, m)),
    )
    return (
        t.groupby(["subj", "pred", "obj"], as_index=False)
        .agg(support=("conv_id", "size"), first_conv=("conv_id", "min"))
    )[GRAPH_COLS]


def check_graph(graph: pd.DataFrame, ref: pd.DataFrame, mapping: pd.DataFrame, what: str) -> list[str]:
    return _diff(what, _rows(graph, GRAPH_COLS), _rows(recompute_graph(ref, mapping), GRAPH_COLS))


def check_responses(rows: pd.DataFrame, ref: pd.DataFrame) -> list[str]:
    cols = ["request_id", "subject", "predict", "object"]
    return _diff("responses", _rows(rows, cols), _rows(ref, cols))


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def check_pairs(name: str, cols: list[str], rows: list, ref: tuple[list, list]) -> list[str]:
    """Order-insensitive equality with the DuckDB rows, cells compared as
    the contract's self-check compares them."""
    rcols, rrows = ref
    if sorted(cols) != sorted(rcols):
        return [f"{name}: columns {sorted(cols)} != {sorted(rcols)}"]

    def bag(rs, cs):
        order = sorted(range(len(cs)), key=lambda i: cs[i])
        return Counter(tuple(_cell(r[i]) for i in order) for r in rs)

    return _diff(name, bag(rows, cols), bag(rrows, rcols))


# --- negative cases -------------------------------------------------------


def _drop_first(rows):
    """Drop one output row (a DataFrame's or a list's first)."""
    return rows[1:]


def _bump_support(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df.iloc[0, df.columns.get_loc("support")] += 1
    return df


NEGATIVE_CASES = {
    "kg_job": {"drop_graph_row": _drop_first, "bump_support": _bump_support},
    "serve_requests": {"drop_response": _drop_first},
    "near_dup": {"drop_pair": _drop_first},
}


def cache_path(root: str, workload: str, seed: int, size: str, spec: object) -> str:
    """Cache file of one reference; `spec` describes the inputs it was
    computed from, so a changed input layout never reads a stale file."""
    os.makedirs(root, exist_ok=True)
    digest = hashlib.sha1(repr(spec).encode()).hexdigest()[:12]
    return os.path.join(root, f"{workload}-{size}-{seed}-{digest}.pkl")


def cached(path: str, compute):
    """Reference cached per (workload, seed, size) across runs."""
    if os.path.exists(path):
        return pd.read_pickle(path)
    value = compute()
    tmp = f"{path}.{os.getpid()}"
    pd.to_pickle(value, tmp)
    os.replace(tmp, path)
    return value
