"""`catalog_sf01`: catalog queries from `refined_spark.queries`, each
materialized through the noop sink, over the sf0.01 test tables copied into
`perfbench/data/sf0.01`, checked against the DuckDB twins in
`queries.ORACLES`.

The query set is the pair generators and the scan-bound map kernels of
bench.py's HEADLINE list: the six pair queries (operators.dedup,
operators.ann, functions.hashing) plus one query per map-kernel module
(functions.text, operators.bio, operators.dates).

The tables are fixed, so the reference answers are too: `--prepare` makes
them once with DuckDB and they are kept in `data/catalog_answers.json.gz`,
keyed on the digest of the tables. The seed does not change the inputs.
"""

from __future__ import annotations

import math
import os
import time
from contextlib import nullcontext

import numpy as np

from probe import CheckFailed

PAIR_QUERIES = ["minhash_lsh_pairs", "ngram_jaccard", "simhash",
                "ann_bruteforce", "ann_lsh", "embedding_neardup"]
MAP_QUERIES = ["token_stats", "quality_score", "lang_id", "fingerprint",
               "bio_decode", "date_range_split"]
QUERIES = PAIR_QUERIES + MAP_QUERIES
TABLES = ["documents", "embeddings", "lineitem", "orders"]
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SEEDED = False  # the inputs and answers do not depend on the seed


def locate(seed: int) -> tuple[str, str]:
    """(input dir, answer file)."""
    return os.path.join(DATA, "sf0.01"), os.path.join(DATA, "catalog_answers.json.gz")


def _norm(v):
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, (np.floating, float)):
        return float(v)
    if isinstance(v, np.integer):
        return int(v)
    return v


def _key(row):
    return [(x is None, type(x).__name__, x if x is not None else 0) for x in row]


def rows_of(records: list[dict], cols: list[str]) -> list[list]:
    """Rows as value lists in sorted column order, sorted: the order-free
    form tests/test_oracle_parity.py compares."""
    return sorted(([_norm(r[c]) for c in cols] for r in records), key=_key)


def make_answers(inp: str) -> dict:
    import duckdb

    from refined_spark import queries as Q

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inp}/{t}.parquet'")
        out = {}
        for q in QUERIES:
            df = con.execute(Q.ORACLES[q]).fetch_df()
            cols = sorted(df.columns)
            out[q] = {"cols": cols, "rows": rows_of(df.to_dict("records"), cols)}
        return {"queries": out}
    finally:
        con.close()


# ------------------------------------------------------------- the workload

class Workload:
    name = "catalog_sf01"
    ops = len(QUERIES)

    def __init__(self, spark, inp: str, work: str, answers: dict):
        self.spark, self.inp, self.answers = spark, inp, answers
        self.rows: dict[str, int] = {}

    def iterate(self, ledger=None) -> dict:
        """One pass over the queries, each through the noop sink. Only the
        warm-up pass is collected and checked: a checked pass costs as much
        again, and the timed plans differ from it only in the sink."""
        from refined_spark import queries as Q

        if ledger:
            ledger.mark()
        t0 = time.perf_counter()
        for q in QUERIES:
            with ledger.layer(f"q.{q}") if ledger else nullcontext():
                Q.QUERIES[q](self.spark, self.inp).write.format("noop").mode(
                    "overwrite").save()
        return {"wall_s": time.perf_counter() - t0}

    def warm_up(self) -> None:
        """The JVM's first pass compiles and loads; it collects every query
        and compares its rows with DuckDB's."""
        from refined_spark import queries as Q

        for q in QUERIES:
            df = Q.QUERIES[q](self.spark, self.inp)
            got = [r.asDict() for r in df.collect()]
            check_query(q, sorted(df.columns), got, self.answers["queries"][q])
            self.rows[q] = len(got)


# ------------------------------------------------------------------ checks

def check_query(name: str, cols: list[str], records: list[dict], want: dict) -> None:
    """Row count, column names and order-insensitive values; floats must be
    equal bit for bit (NaN equals NaN)."""
    if cols != want["cols"]:
        raise CheckFailed(f"{name}: columns {cols} vs {want['cols']}")
    got = rows_of(records, cols)
    if len(got) != len(want["rows"]):
        raise CheckFailed(f"{name}: {len(got)} rows vs {len(want['rows'])}")
    for a, b in zip(got, want["rows"]):
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                fx, fy = float(x), float(y)
                if not (fx == fy or (math.isnan(fx) and math.isnan(fy))):
                    raise CheckFailed(f"{name}: {a} vs {b}")
            elif x != y:
                raise CheckFailed(f"{name}: {a} vs {b}")
