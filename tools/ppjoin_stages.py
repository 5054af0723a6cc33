"""Stage-split timing for ppjoin_pairs: candidate join vs verify leg.

VERDICT r8 order #3: the open question from the r8 slope note is whether
the verify leg (candidates ⋈ both shingle arrays + per-pair intersect)
or the prefix candidate join dominates at scale — if verify dominates,
the PPJoin+ suffix/positional filter is worth its complexity; if the
candidate join dominates, it isn't (the filter only shrinks the verify
input).

Protocol: clean-unpersist between samples (the r8 measurement fix —
clearCache misses localCheckpoint RDDs), median-of-3 after a warm pass,
one stage timed at a time:

- t_cand  = build shingles + prefixes + candidate pairs, materialized
  via localCheckpoint (so the verify timing below excludes it);
- t_verify = the verify leg alone, running from the checkpointed
  candidates and shingle frame.

Usage: python tools/ppjoin_stages.py [sf_dir] [threshold]
Prints one JSON line {"sf": ..., "t_cand": ..., "t_verify": ...,
"n_cand": ..., "n_pairs": ..., "protocol": ...}.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    threshold = float(args[1]) if len(args) > 1 else 0.5

    from randas_spark.operators.dedup import _jaccard_verify, _ppjoin_candidates
    from randas_spark.queries import t
    from randas_spark.session import get_spark

    spark = get_spark("ppjoin-stages")

    def drop_persisted() -> None:
        spark.catalog.clearCache()
        jsc = spark.sparkContext._jsc.sc()
        it = jsc.getPersistentRDDs().iterator()
        while it.hasNext():
            it.next()._2().unpersist(True)

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")

    t_cand, t_verify, n_cand, n_pairs = [], [], 0, 0
    for i in range(4):  # sample 0 is the warm pass
        t0 = time.perf_counter()
        sh, cand = _ppjoin_candidates(docs, "doc_id", "text", 5, threshold)
        cand = cand.localCheckpoint()  # materializes the candidate stage
        n_cand = cand.count()
        tc = time.perf_counter() - t0

        t1 = time.perf_counter()
        n_pairs = _jaccard_verify(sh, sh, cand, threshold).count()
        tv = time.perf_counter() - t1
        if i > 0:
            t_cand.append(tc)
            t_verify.append(tv)
        drop_persisted()

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "threshold": threshold,
                "t_cand": round(statistics.median(t_cand), 3),
                "t_verify": round(statistics.median(t_verify), 3),
                "n_cand": n_cand,
                "n_pairs": n_pairs,
                "protocol": "isolated median-of-3 after warm; clean unpersist",
            }
        )
    )


if __name__ == "__main__":
    main()
