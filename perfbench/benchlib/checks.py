"""Output checks: each measured registered query against its DuckDB
oracle twin, with tools/local_verify.py's hashing and the oracle side
cached by (oracle SQL text, fixture digest)."""

import hashlib
import json
import os
import sys

# the repository's own oracle comparison: its table list and hashing
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..", "tools"))
from local_verify import TABLES, frame_key  # noqa: E402


def fixture_digest(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            with open(p, "rb") as f:
                h.update(t.encode() + hashlib.sha256(f.read()).digest())
    return h.hexdigest()


class Oracle:
    def __init__(self, data_dir, cache_dir):
        import duckdb
        self.con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        self.digest = fixture_digest(data_dir)
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)

    def expected(self, sql):
        key = hashlib.sha256((self.digest + "\n" + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        res = self.con.sql(sql)
        cols, rows = res.columns, res.fetchall()
        out = {"cols": sorted(cols), "rows": len(rows), "key": frame_key(cols, rows)}
        with open(path + ".tmp", "w") as f:
            json.dump(out, f)
        os.replace(path + ".tmp", path)
        return out

    def check(self, name, sql, spark_dir):
        """None when the Spark output at `spark_dir` matches the oracle,
        else a one-line reason."""
        if not os.path.isdir(spark_dir):
            return "no spark output"
        try:
            got = self.con.sql(f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')")
            gcols, grows = got.columns, got.fetchall()
            exp = self.expected(sql)
        except Exception as e:  # noqa: BLE001 - any engine error is a failed check
            return f"error: {str(e)[:200]}"
        if sorted(gcols) != exp["cols"]:
            return f"schema spark={sorted(gcols)} oracle={exp['cols']}"
        if len(grows) != exp["rows"]:
            return f"rows spark={len(grows)} oracle={exp['rows']}"
        if frame_key(gcols, grows) != exp["key"]:
            return f"values differ ({len(grows)} rows)"
        return None

    def count(self, table):
        return self.con.sql(f"SELECT count(*) FROM {table}").fetchone()[0]
