"""Every registered DuckDB oracle must bind against the testdata schema.

Oracle text is assembled from shared SQL-string helpers at import time, so
one bad edit to a helper breaks many oracles at once. Without this test the
breakage shows only in a full ``tools/selfcheck.py`` run; here ``EXPLAIN``
binds and plans each oracle over views of the sf0.001 tables (the view
setup of ``tools/selfcheck.py``) without running it.
"""

from __future__ import annotations

import os

import duckdb

from randas_spark.queries import REGISTRY, load_all
from randas_spark.session import TABLES
from tests.conftest import SF_DIR


def test_every_registered_oracle_binds():
    load_all()
    con = duckdb.connect()
    for table in TABLES:
        path = os.path.join(SF_DIR, f"{table}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    oracles = {n: qd.oracle for n, qd in REGISTRY.items() if qd.oracle is not None}
    unbound = {}
    for name, sql in sorted(oracles.items()):
        try:
            con.execute("EXPLAIN " + sql)
        except duckdb.Error as ex:
            unbound[name] = str(ex).splitlines()[0]
    assert oracles, "no oracle registered"
    assert not unbound, f"{len(unbound)} oracles do not bind: {unbound}"
