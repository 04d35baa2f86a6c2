"""DuckDB expected results for the pipeline workload.

The corpus is generated from the seed, so the expected hashes are
regenerated for each corpus rather than committed: `expected()` runs
each query's `SparkEntry.oracleSql` statement in DuckDB over the
corpus parquet and hashes the rows with `compare_oracle.py`'s
normalisation; `check()` hashes graft's results the same way.

Regenerate the expected hashes for one seed by hand:

    python3 perfbench/corpus.py --seed 1 --out corpus-1
    python3 perfbench/oracle.py corpus-1 oracle_sql.json   # prints {query: hash}

(`oracle_sql.json` is the file a pipeline run writes next to its
results.)
"""
import glob
import hashlib
import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
from compare_oracle import norm  # noqa: E402  (the repository's normalisation)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def digest(rows, cols):
    """(row count, sorted column names, sha1 of normalised rows)"""
    lines = norm(rows, cols)
    h = hashlib.sha1("\n".join(lines).encode()).hexdigest()
    return [len(lines), sorted(cols), h]


def connect(corpus):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
    return con


def expected(corpus, oracles):
    con = connect(corpus)
    out = {}
    for name, sql in sorted(oracles.items()):
        rows = con.execute(sql).fetchall()
        out[name] = digest(rows, [d[0] for d in con.description])
    return out


def got(results_dir, names):
    con = duckdb.connect()
    out = {}
    for name in names:
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not files:
            out[name] = None
            continue
        rows = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchall()
        out[name] = digest(rows, [d[0] for d in con.description])
    return out


def check(want, have):
    """{query: error or None}: count, columns and hash must all match."""
    errors = {}
    for name, w in want.items():
        h = have.get(name)
        if h is None:
            errors[name] = "no result"
        elif h != w:
            errors[name] = f"graft {h[:2]} {h[2][:12]} != duckdb {w[:2]} {w[2][:12]}"
        else:
            errors[name] = None
    return errors


if __name__ == "__main__":
    print(json.dumps(expected(sys.argv[1], json.load(open(sys.argv[2]))), indent=1))
