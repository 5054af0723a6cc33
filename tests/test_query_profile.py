"""``tools/query_profile.py`` end to end: one record per query, carrying
its layers, its construction jobs and the row counts of its plan nodes."""

import json
import os
import subprocess
import sys

from perfbench.tracing import OP_LAYERS
from tests.conftest import SF_DIR
from tests.test_llm import _CONSTRUCT_JOBS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_profile_records_layers_construct_jobs_and_node_rows():
    # sf0.001 needs a small heap; the suite's own session already holds one
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "2g"}
    proc = subprocess.run(
        [
            sys.executable, os.path.join(ROOT, "tools", "query_profile.py"), SF_DIR,
            "llm_dedup_minhash_det", "q01_pricing_summary",
        ],
        cwd=ROOT, env=env, check=True, timeout=60, capture_output=True, text=True,
    )
    doc = json.loads(proc.stdout)
    records = {r["op"]: r for r in doc["records"]}
    assert sorted(records) == ["llm_dedup_minhash_det", "q01_pricing_summary"]
    assert doc["errors"] == 0
    for name, rec in records.items():
        missing = [k for k in (*OP_LAYERS, "residual_s") if k not in rec]
        assert not missing, (name, missing)
        collect_nodes = [n for n in rec["nodes"] if n[0] == "collect"]
        assert collect_nodes, name
        assert len(rec["samples_s"]) == 3, name
        assert set(rec["host"]) == {"steal_frac", "busy_frac", "other_frac"}, name
    assert (
        records["llm_dedup_minhash_det"]["queries.construct_jobs"]
        == _CONSTRUCT_JOBS["llm_dedup_minhash_det"]
    )
    assert records["q01_pricing_summary"]["queries.construct_jobs"] == 0
