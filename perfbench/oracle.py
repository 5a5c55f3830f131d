"""Output check: each query's Spark result against its DuckDB oracle.

The comparison uses the normalisation of tools/check_oracle.py: columns
sorted by name, rows sorted by their string form, every value compared by
its string form. An answer is kept as its column names, row count and a
SHA-256 of the normalised rows, keyed by the SQL text and the content hash
of the tables it ran on. perfbench/oracle_cache.json holds the answers for
every pool query (some take DuckDB minutes at sf0.1); an answer missing
there is computed and kept under .perfbench/oracle.

    python3 perfbench/oracle.py --refresh     rebuilds oracle_cache.json
"""
import glob
import hashlib
import json
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
HERE = os.path.dirname(os.path.abspath(__file__))
FROZEN = os.path.join(HERE, "oracle_cache.json")


def digest(df):
    """(columns, rows, sha256) of a result under the oracle normalisation."""
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True,
                        key=lambda s: s.astype(str))
    cols = [df[c].astype(str).tolist() for c in df.columns]
    rows = json.dumps([list(r) for r in zip(*cols)])
    return {"columns": list(df.columns), "rows": len(df),
            "sha": hashlib.sha256(rows.encode()).hexdigest()}


class Oracle:
    def __init__(self, data_dir, data_hash, cache_dir):
        self.data_dir, self.data_hash, self.cache_dir = data_dir, data_hash, cache_dir
        self.con = None
        self.frozen = {}
        if os.path.exists(FROZEN):
            with open(FROZEN) as f:
                self.frozen = json.load(f)
        os.makedirs(cache_dir, exist_ok=True)

    def key(self, sql):
        return hashlib.sha256(f"{self.data_hash}\n{sql}".encode()).hexdigest()[:32]

    def compute(self, sql):
        if self.con is None:
            self.con = duckdb.connect()
            for t in TABLES:
                self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        return digest(self.con.sql(sql).df())

    def answer(self, sql):
        key = self.key(sql)
        if key in self.frozen:
            return self.frozen[key]
        path = os.path.join(self.cache_dir, key + ".json")
        if not os.path.exists(path):
            with open(path + ".tmp", "w") as f:
                json.dump(self.compute(sql), f)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            return json.load(f)

    def check(self, sql, result_dir):
        """None when the Spark result matches the oracle, else the reason."""
        if sql is None:
            return "no oracle SQL registered"
        files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
        if not files:
            return "no Spark output"
        got = digest(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
        want = self.answer(sql)
        if got["columns"] != want["columns"]:
            return f"columns {got['columns']} vs {want['columns']}"
        if got["rows"] != want["rows"]:
            return f"rows {got['rows']} vs {want['rows']}"
        return None if got["sha"] == want["sha"] else f"values differ in {got['rows']} rows"


def write_frozen(frozen):
    """One answer per line, so a refresh diffs by query."""
    lines = [f"{json.dumps(k)}: {json.dumps(frozen[k], sort_keys=True)}" for k in sorted(frozen)]
    with open(FROZEN + ".tmp", "w") as f:
        f.write("{\n" + ",\n".join(lines) + "\n}\n")
    os.replace(FROZEN + ".tmp", FROZEN)


def refresh():
    """Recompute the frozen answers of every pool query at its pool's SF."""
    import harness
    pools = harness.load_json("pools.json")
    classpath = harness.build()
    dump = os.path.join(harness.WORK, "oracle_sql.json")
    harness.runner(classpath, ["--oracle", dump])
    with open(dump) as f:
        sqls = json.load(f)
    frozen = {}
    for spec in pools.values():
        data_dir, data_hash = harness.data(spec["sf"])
        orc = Oracle(data_dir, data_hash, os.path.join(harness.WORK, "oracle"))
        for name in sorted(spec["pool"]):
            if name in sqls:
                frozen[orc.key(sqls[name])] = orc.answer(sqls[name])
    write_frozen(frozen)
    print(f"{len(frozen)} oracle answers")


if __name__ == "__main__":
    if sys.argv[1:] != ["--refresh"]:
        sys.exit(__doc__)
    refresh()
