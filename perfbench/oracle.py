"""Result hashes for pipeline_ops, and the DuckDB oracle that fixes them.

run.py hashes the results of the warm-up pass and compares them with
expected_pipeline.json. That file comes from running each query's DuckDB
oracle SQL (SparkEntry.oracleSql, written out by graft.tools.DumpOracle)
over the fixed pipeline corpus; rebuild it when the corpus or an oracle
changes:

    python3 perfbench/oracle.py    # after one benchmark build
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected_pipeline.json")
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "scripts"))
from check import norm  # noqa: E402  the engine's own result comparison


def result_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a result, normalised as scripts/check.py
    normalises it (columns by name, rows sorted), with same-kind numeric
    widths equal (int32 == int64, float32 widened to float64)."""
    df = norm(df)

    def render(v):
        if v is None or (isinstance(v, float) and np.isnan(v)):
            return "NULL"
        if isinstance(v, (np.floating, float)):
            return repr(float(v))
        if isinstance(v, (np.integer, int, np.bool_, bool)):
            return str(int(v))
        if isinstance(v, (list, tuple, np.ndarray)):
            return "[" + ",".join(render(x) for x in v) + "]"
        return str(v)

    h = hashlib.sha256(",".join(f"{c}:{df[c].dtype.kind}" for c in df.columns).encode())
    for row in df.itertuples(index=False):
        h.update(("\x1f".join(render(v) for v in row) + "\n").encode())
    return h.hexdigest()


def main():
    import duckdb
    sys.path.insert(0, HERE)
    import gen
    import run
    cp = run.build()
    with tempfile.TemporaryDirectory(dir=run.BUILD) as tmp:
        gen.tables(gen.PIPELINE_CORPUS_SEED, gen.PIPELINE_SF, tmp, ["events", "documents"])
        oracle = {}
        for q in gen.PIPELINE_QUERIES:
            out = os.path.join(tmp, f"{q}.sql")
            subprocess.run(["java", "-cp", cp, "graft.tools.DumpOracle", q, out], check=True)
            oracle[q] = open(out).read()
        con = duckdb.connect()
        for t in ("events", "documents"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp}/{t}.parquet')")
        expected = {}
        for q in gen.PIPELINE_QUERIES:
            expected[q] = result_hash(con.execute(oracle[q]).df())
            print(q, expected[q], flush=True)
    with open(EXPECTED, "w") as f:
        json.dump({"corpus_seed": gen.PIPELINE_CORPUS_SEED, "sf": gen.PIPELINE_SF,
                   "hashes": expected}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
