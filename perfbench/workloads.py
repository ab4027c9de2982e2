"""The benchmark's workloads: inputs, operations, warm-up and output checks.

``queries`` runs registered queries from ``__spark_entry__.queries()``,
each forced with the noop sink, over seeded tables (``inputs.py``); their
outputs are checked against the query's ``oracle_sql()`` on DuckDB.
``warehouse`` runs the corpus pipeline (``insights_spark.jobs.corpus``): a
full load, then a ``resume`` batch of newer documents, checked against a
one-shot run over all documents.

A workload exposes ``op_names``, ``groups`` (op families reported apart in
the trace), ``stage``, ``warm_and_check``, ``before_pass``, ``run_op`` and
``check``; ``run_op`` takes a span factory so a traced run can label the
layer each call enters.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time
from contextlib import nullcontext

import inputs

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                              "BENCHMARK.json")


def bench_spec() -> dict:
    with open(BENCHMARK_JSON) as f:
        return json.load(f)


def no_span(layer, op=None, phase=None):
    return nullcontext()


@functools.cache
def _selfcheck():
    """tools/selfcheck.py's row normalisation and multiset comparison."""
    import importlib.util

    root = os.path.dirname(BENCHMARK_JSON)
    spec = importlib.util.spec_from_file_location(
        "selfcheck", os.path.join(root, "tools", "selfcheck.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _same_rows(rows_a: list[dict], rows_b: list[dict], cols: list[str]) -> bool:
    sc = _selfcheck()
    return sc._multiset(rows_a, cols) == sc._multiset(rows_b, cols)


class QueryWorkload:
    """Registered queries over seeded tables at ``scale``."""

    def __init__(self, name: str, scale: float, groups: dict[str, list[str]]):
        self.name = name
        self.scale = scale
        self.groups = groups
        self.op_names = [op for ops in groups.values() for op in ops]

    def stage(self, spark, out_dir: str, seed: int) -> dict:
        inputs.write(out_dir, self.scale, seed)
        import __spark_entry__ as entry

        return {"dir": out_dir, "queries": entry.queries(), "oracles": entry.oracle_sql()}

    def warm_and_check(self, spark, staged: dict) -> tuple[set[str], float]:
        """Build and collect every op once; compare with its DuckDB oracle.

        Returns the mismatched ops and the seconds spent comparing."""
        import duckdb

        import __spark_entry__ as entry

        con = duckdb.connect()
        for t in entry.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{staged['dir']}/{t}.parquet')")
        bad, compare_s = set(), 0.0
        for name in self.op_names:
            try:
                df = staged["queries"][name](spark, staged["dir"])
                rows = [r.asDict() for r in df.collect()]
                cols = df.columns
            except Exception:  # noqa: BLE001 — reported as a failed op
                bad.add(name)
                continue
            t0 = time.perf_counter()
            try:
                cur = con.execute(staged["oracles"][name])
                ocols = [d[0] for d in cur.description]
                orows = [dict(zip(ocols, r)) for r in cur.fetchall()]
            except duckdb.Error:  # an oracle that cannot run checks nothing
                bad.add(name)
            else:
                if sorted(cols) != sorted(ocols) or not _same_rows(rows, orows, sorted(cols)):
                    bad.add(name)
            compare_s += time.perf_counter() - t0
        con.close()
        return bad, compare_s

    def before_pass(self, staged: dict, i: int) -> None:
        pass

    def run_op(self, spark, staged: dict, name: str, span=no_span) -> None:
        with span("entry", op=name, phase="build"):
            df = staged["queries"][name](spark, staged["dir"])
        with span("engine", op=name, phase="exec"):
            df.write.format("noop").mode("overwrite").save()

    def check(self, spark, staged: dict) -> set[str]:
        return set()


class CorpusWorkload:
    """``jobs.corpus.run``: full load of the documents below a split doc_id,
    then a ``resume`` batch of the rest, into a fresh warehouse per pass."""

    op_names = ["corpus_load", "corpus_resume"]
    groups = {"warehouse": op_names}

    def __init__(self, name: str, scale: float, split: float):
        self.name = name
        self.scale = scale
        self.split = split

    def stage(self, spark, out_dir: str, seed: int) -> dict:
        import pyarrow.parquet as pq

        inputs.write(out_dir, self.scale, seed, only=("documents",))
        path = os.path.join(out_dir, "documents.parquet")
        n_docs = pq.read_metadata(path).num_rows
        return {"dir": out_dir, "docs": path, "split_id": int(n_docs * self.split), "wh": None}

    def warm_and_check(self, spark, staged: dict) -> tuple[set[str], float]:
        """The warm-up is the one-shot run the timed passes are checked against."""
        from insights_spark.jobs import corpus

        staged["ref"] = os.path.join(staged["dir"], "ref")
        corpus.run(spark, spark.read.parquet(staged["docs"]), staged["ref"])
        return set(), 0.0

    def before_pass(self, staged: dict, i: int) -> None:
        if staged["wh"]:
            shutil.rmtree(staged["wh"], ignore_errors=True)
        staged["wh"] = os.path.join(staged["dir"], f"wh{i}")

    def run_op(self, spark, staged: dict, name: str, span=no_span) -> None:
        from pyspark.sql import functions as F

        from insights_spark.jobs import corpus

        docs = spark.read.parquet(staged["docs"])
        with span("jobs", op=name, phase="run"):
            if name == "corpus_load":
                corpus.run(spark, docs.filter(F.col("doc_id") < staged["split_id"]), staged["wh"])
            else:
                corpus.run(spark, docs, staged["wh"], resume=True)

    def check(self, spark, staged: dict) -> set[str]:
        """The last pass's load + resume tables equal the one-shot run's."""
        for table in ("corpus", "dedup_index", "postings", "accounting"):
            got = spark.read.parquet(os.path.join(staged["wh"], table))
            want = spark.read.parquet(os.path.join(staged["ref"], table))
            cols = sorted(c for c in want.columns if c != "batch")
            if sorted(c for c in got.columns if c != "batch") != cols or not _same_rows(
                [r.asDict() for r in got.select(*cols).collect()],
                [r.asDict() for r in want.select(*cols).collect()], cols,
            ):
                return set(self.op_names)
        return set()


# Chosen by build share (builder-call seconds ÷ op seconds) and wall time
# on the seeded scale-0.01 tables at local[4] (DESIGN.md): two builders
# whose wall is at least 0.8 build-time eager jobs (the ROADMAP item 2
# targets), then three queries whose build share is at most 0.25.
ITERATIVE = ["kcore", "nn_distance_hist"]
ANALYTICS = ["prefix_jaccard", "mann_kendall", "hex_smooth"]

WORKLOADS = {
    "warehouse": CorpusWorkload("warehouse", scale=0.04, split=0.75),
    "queries": QueryWorkload("queries", scale=0.01,
                             groups={"iterative": ITERATIVE, "analytics": ANALYTICS}),
}
