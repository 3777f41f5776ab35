"""Correctness oracles the benchmark checks outputs against.

Every oracle here is independent of the code under test: recall uses a
pure-Python exact Jaccard over the planted families, the registered
queries are replayed on DuckDB from their ``oracle_sql()``, and sketch
answers are compared with exact counts computed in NumPy from the same
generated inputs.
"""

from __future__ import annotations

import hashlib
import itertools
import math
import re
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOKEN = re.compile(r"[a-z0-9]+")


def fingerprint(df: DataFrame) -> tuple[int, int]:
    """(rows, xor of row hashes) over every column: forces the whole
    relation and is insensitive to row order."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def planted_families(n_convs: int) -> dict[str, int]:
    """conv_id -> family for the convs ``synth_transcripts`` plants in
    multi-member families, at its defaults (dup_fraction 0.5, families of
    4): the first half of conv numbers, family = conv_num mod n_families."""
    n_dup = n_convs // 2
    n_families = max(1, n_dup // 4)
    return {f"conv-{i:08d}": i % n_families for i in range(n_dup)}


def planted_pairs(transcripts: DataFrame, n_convs: int, k: int = 4, threshold: float = 0.7) -> list[tuple[str, str]]:
    """Exact-Jaccard oracle restricted to the planted families: every
    within-family pair whose word k-shingle sets reach ``threshold``."""
    fam = planted_families(n_convs)
    last = max(fam) if fam else ""
    rows = (
        transcripts.where(F.col("conv_id") <= F.lit(last))
        .select("conv_id", "turn_idx", "text")
        .collect()
    )
    turns: dict[str, list[tuple[int, str]]] = defaultdict(list)
    for r in rows:
        if r["conv_id"] in fam:
            turns[r["conv_id"]].append((r["turn_idx"], r["text"]))
    shingles = {}
    for cid, ts in turns.items():
        toks = TOKEN.findall(" ".join(t for _, t in sorted(ts)).lower())
        shingles[cid] = {tuple(toks[i:i + k]) for i in range(max(1, len(toks) - k + 1))}
    members: dict[int, list[str]] = defaultdict(list)
    for cid in sorted(shingles):
        members[fam[cid]].append(cid)
    out = []
    for ms in members.values():
        for a, b in itertools.combinations(ms, 2):
            sa, sb = shingles[a], shingles[b]
            if len(sa & sb) >= threshold * len(sa | sb):
                out.append((a, b))
    return out


def cluster_recall(clusters: DataFrame, pairs: list[tuple[str, str]]) -> float:
    """Share of oracle pairs whose two convs share a cluster."""
    if not pairs:
        return 1.0
    ids = sorted({c for p in pairs for c in p})
    label = {
        r["conv_id"]: r["cluster_id"]
        for r in clusters.where(F.col("conv_id").isin(ids)).select("conv_id", "cluster_id").collect()
    }
    hit = sum(1 for a, b in pairs if a in label and label.get(a) == label.get(b))
    return hit / len(pairs)


# -- registered-query oracle (DuckDB) ------------------------------------

def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(rows, colnames: list[str]) -> str:
    """Order-insensitive hash of a result set, columns matched by name."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def duckdb_matches(rows: list, oracle_sql: str, documents_path: str) -> tuple[bool, str]:
    """Run ``oracle_sql`` on DuckDB over the documents parquet and compare
    its row count, column names and an order-insensitive value hash with
    the collected Spark ``rows``."""
    import duckdb

    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{documents_path}'")
        rel = con.sql(oracle_sql)
        o_cols = list(rel.columns)
        o_rows = rel.fetchall()
    finally:
        con.close()
    s_cols = list(rows[0].__fields__) if rows else o_cols
    s_rows = [tuple(r) for r in rows]
    if sorted(o_cols) != sorted(s_cols):
        return False, f"columns {sorted(s_cols)} != oracle {sorted(o_cols)}"
    if len(o_rows) != len(s_rows):
        return False, f"{len(s_rows)} rows != oracle {len(o_rows)}"
    if value_hash(s_rows, s_cols) != value_hash(o_rows, o_cols):
        return False, "values differ from oracle"
    return True, f"{len(s_rows)} rows match"


# -- sketch answers ------------------------------------------------------

THETA_RSE = 1.0 / math.sqrt(2**12 - 1)  # lg_k 12 (the declared k)
HLL_RSE = 1.04 / math.sqrt(2**12)
KLL_RANK_EPS = 0.033  # twice the k=200 single-sided 99% normalized rank error
Z = 4.0  # estimates must fall within Z relative standard errors


def within_rse(estimate: float, exact: int, rse: float) -> bool:
    return abs(estimate - exact) <= Z * rse * exact + 1e-9
