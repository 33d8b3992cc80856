from __future__ import annotations

import math
import os

import duckdb
import pytest

os.environ.setdefault("SPARK_DRIVER_MEMORY", "8g")

from wpvectordb_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMOKE = "/root/testdata/sf0.001"


def path_forms(base, name: str) -> list[tuple[str, str]]:
    """``(path handed to the code, same path on local disk)`` for a plain
    local path and for its ``file:`` URI: the durable-state crash-window
    tests run over both forms, each under its own subdirectory of
    ``base``."""
    out = []
    for form in ("plain", "uri"):
        local = str(base / form / name)
        out.append((local if form == "plain" else f"file:{local}", local))
    return out


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("wpvectordb-tests", shuffle_partitions=8)
    # interpreted expressions: avoids per-plan Janino compilation, which
    # dominates wall time for the HOF-heavy kernels at test scale
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    return con


def _norm_cell(x):
    if isinstance(x, float):
        if math.isnan(x):
            return "NaN"
        return round(x, 9)
    if isinstance(x, list):
        return tuple(_norm_cell(v) for v in x)
    return x


def rows_key(cols, rows):
    """Order-insensitive, column-name-sorted canonical form of a result set
    (approximates the driver's value-hash compare)."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(_norm_cell(r[i]) for i in idx))
    return sorted(cols), sorted(out, key=repr)


def assert_parity(spark_df, duck_rel, precollected=None):
    scols = spark_df.columns
    srows = [
        tuple(r) for r in (precollected if precollected is not None else spark_df.collect())
    ]
    dcols = [d[0] for d in duck_rel.description]
    drows = duck_rel.fetchall()
    sk = rows_key(scols, srows)
    dk = rows_key(dcols, drows)
    assert sk[0] == dk[0], f"schema mismatch: spark={sk[0]} duck={dk[0]}"
    assert len(sk[1]) == len(dk[1]), f"rowcount mismatch: spark={len(sk[1])} duck={len(dk[1])}"
    mismatches = [(a, b) for a, b in zip(sk[1], dk[1]) if a != b]
    assert not mismatches, f"value mismatch ({len(mismatches)} rows), first: {mismatches[0]}"
