#!/usr/bin/env python3
"""Write pinned.json: the DuckDB oracle result of the corpus queries whose
oracle is too slow to run inside a benchmark run, over the fixed embedding
set of ``workloads.CorpusDedup``.

    python3 perfbench/pin_oracles.py      # from the repository root

Rerun it when the embedding generator, ``N_VECS`` or ``EMBED_SEED``
changes.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
PINNED = ("embedding_semantic_dedup",)


def main() -> int:
    sys.path[:0] = [os.getcwd(), HERE]
    import duckdb

    import inputs
    from stock_etl_pipeline_spark.workload import load_all
    from workloads import CorpusDedup, digest

    registry = load_all()
    with tempfile.TemporaryDirectory(dir=os.getcwd()) as tmp:
        path = os.path.join(tmp, "embeddings.parquet")
        inputs.write_embeddings(path, CorpusDedup.EMBED_SEED, CorpusDedup.N_VECS)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
        queries = {}
        for q in PINNED:
            rel = con.sql(registry[q].oracle)
            rows = rel.fetchall()
            queries[q] = [len(rows), digest(rel.columns, rows)]
        con.close()
    out = {"n_vecs": CorpusDedup.N_VECS, "embed_seed": CorpusDedup.EMBED_SEED,
           "queries": queries}
    with open(os.path.join(HERE, "pinned.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
