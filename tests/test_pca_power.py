"""embedding_pca_power: the in-stage power recurrence and its edges.

``pca_power_sweeps`` runs every sweep inside one ``aggregate``
expression over a single gathered Gram row. These tests pin it against
a pure-Python replay of the integer recurrence on hand-built Gram
tables (exact .5 ties, negative entries, all-zero and vanishing-norm
grids that must give NULL), bound the Spark jobs one execution fires,
and check the query against its DuckDB oracle on an empty corpus.
"""

from __future__ import annotations

import math
import os
import random
import time

import pyarrow.parquet as pq
import pytest

from etl_pipeline_with_alpha_vantage_spark import registry
from etl_pipeline_with_alpha_vantage_spark.catalog import TABLES
from etl_pipeline_with_alpha_vantage_spark.operators.similarity import (
    _PCA_D,
    _PCA_ITERS,
    pca_power_sweeps,
)

from test_oracle_parity import assert_query_matches_oracle

D = _PCA_D


def _half_away(x: float) -> float:
    t = math.trunc(x)
    if abs(x - t) >= 0.5:
        return t + math.copysign(1.0, x)
    return float(t)


def _replay(grid: list[list[int]], iters: int) -> list[float | None]:
    """The oracle's chained-CTE recurrence, element by element; a zero
    norm² makes every loading NULL (x/0 is NULL), and NULL stays NULL."""
    v: list[float] | None = [1.0 / math.sqrt(D)] * D
    for _ in range(iters):
        if v is None:
            break
        u = [
            sum(int(_half_away(grid[i][j] * v[j])) for j in range(D))
            for i in range(D)
        ]
        dd = [ui / 1e6 for ui in u]
        n2 = sum(int(_half_away(x * x * 1e6)) for x in dd)
        v = None if n2 == 0 else [x / math.sqrt(n2 / 1e6) for x in dd]
    return [None] * D if v is None else v


def _grids() -> dict[str, list[list[int]]]:
    return {
        # every |g| ≡ 4 (mod 8): each first-sweep term g · 0.125 is an
        # exact .5 tie, which must round away from zero on both signs
        "half_ties": [
            [
                (-1 if (i + j) % 5 == 0 else 1)
                * (8 * (((i * 7 + j * 3) % 11) * 125_000 + i + j) + 4)
                for j in range(D)
            ]
            for i in range(D)
        ],
        # symmetric, mixed signs, large magnitudes
        "negative": [
            [((i * j * 13 + i + j) % 401 - 200) * 997 for j in range(D)]
            for i in range(D)
        ],
        "all_zero": [[0] * D for _ in range(D)],
        # u = 64 micro-units per row: d is non-zero, but d² · 1e6 rounds
        # to 0, so n² = 0 and every loading is NULL
        "vanishing_norm": [[8] * D for _ in range(D)],
    }


@pytest.mark.parametrize("case", sorted(_grids()))
def test_power_sweeps_match_integer_replay(spark, case):
    grid = _grids()[case]
    cells = [(i, j, grid[i][j]) for i in range(D) for j in range(D)]
    random.Random(7).shuffle(cells)  # the gather must sort, not trust order
    df = spark.createDataFrame(cells, "gi long, gj long, g long").repartition(3)
    got = {r["idx"]: r["v"] for r in pca_power_sweeps(spark, df).collect()}
    want = _replay(grid, _PCA_ITERS)
    assert sorted(got) == list(range(D))
    assert [got[i] for i in range(D)] == want
    # the NULL cases are NULL, the others are not (the replay is not
    # vacuous)
    assert (set(want) == {None}) == (case in ("all_zero", "vanishing_norm"))
    assert (None in want) == (case in ("all_zero", "vanishing_norm"))


def test_power_sweeps_on_empty_gram_give_no_rows(spark):
    df = spark.createDataFrame([], "gi long, gj long, g long")
    assert pca_power_sweeps(spark, df).collect() == []


def _wait_for_listener(sc) -> None:
    """Job events reach the status tracker through the asynchronous
    listener bus; once a later marker job shows as finished, every
    earlier job of this thread has been recorded."""
    group = f"listener-marker-{time.time_ns()}"
    sc.setJobGroup(group, "listener marker")
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        ids = tracker.getJobIdsForGroup(group)
        infos = [tracker.getJobInfo(i) for i in ids]
        if infos and all(x is not None and x.status == "SUCCEEDED" for x in infos):
            return
        time.sleep(0.05)
    raise AssertionError("listener bus did not drain within 30 s")


def test_pca_execution_job_count(spark, sf_dir):
    """One execution of embedding_pca_power fires a handful of jobs, not
    a set per sweep (the join/aggregate/window form fired 19)."""
    df = registry.QUERIES["embedding_pca_power"](spark, sf_dir)
    sc = spark.sparkContext
    group = f"pca-power-exec-{time.time_ns()}"
    sc.setJobGroup(group, "embedding_pca_power noop write")
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    _wait_for_listener(sc)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 4, jobs


@pytest.fixture(scope="module")
def empty_corpus_dir(tmp_path_factory, sf_dir):
    """sf_dir's tables with an empty ``embeddings`` of the same schema."""
    out = tmp_path_factory.mktemp("empty_embeddings")
    for name in TABLES:
        src = os.path.join(sf_dir, name + ".parquet")
        dst = os.path.join(out, name + ".parquet")
        if name == "embeddings":
            pq.write_table(pq.read_schema(src).empty_table(), dst)
        else:
            os.symlink(src, dst)
    return str(out)


def test_pca_on_empty_corpus_matches_oracle(spark, empty_corpus_dir):
    import duckdb

    con = duckdb.connect()
    try:
        for name in TABLES:
            path = os.path.join(empty_corpus_dir, name + ".parquet")
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        assert_query_matches_oracle(
            spark, con, empty_corpus_dir, "embedding_pca_power",
            allow_empty=True,
        )
        assert con.sql(registry.ORACLES["embedding_pca_power"]).fetchall() == []
    finally:
        con.close()
