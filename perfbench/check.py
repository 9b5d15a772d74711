"""Output check: each query's Spark result against its DuckDB oracle,
hashed with ``tools/check_oracle.py``'s ``table_hash``.

The oracle hashes depend only on the tables, the oracle SQL and the hash
code, so they are computed once, in a child process before Spark starts
(the benchmark's own DuckDB work then never shows in the measured
process), and cached under the work dir:

    python3 perfbench/check.py --sf-dir DIR --out FILE QUERY...

writes ``{query: {"cols": [...], "hash": "..."} or {"error": "..."}}``.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import subprocess
import sys


def _load_check_oracle(repo_root: str):
    path = os.path.join(repo_root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def oracle_hashes(repo_root: str, sf_dir: str, names: list[str]) -> dict:
    """DuckDB views over ``sf_dir``; each named oracle's columns and hash."""
    import duckdb

    from hybridbackend_spark.queries import get_oracles

    co = _load_check_oracle(repo_root)
    oracles = get_oracles()
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in co.TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM '{sf_dir}/{t}.parquet'")
    out = {}
    try:
        for name in names:
            try:
                res = con.sql(oracles[name])
                cols = list(res.columns)
                coerce = {
                    i for i, t in enumerate(str(t) for t in res.types)
                    if t.startswith(co.FLOAT_COERCED_DUCK_TYPES)
                }
                rows = [
                    tuple(float(v) if i in coerce and v is not None else v
                          for i, v in enumerate(r))
                    for r in res.fetchall()
                ]
                out[name] = {"cols": cols, "hash": co.table_hash(rows, cols)}
            except Exception as e:  # a failed oracle fails the query's check
                out[name] = {"error": f"{type(e).__name__}: {e}"}
    finally:
        con.close()
    return out


class OracleCheck:
    """Compares Spark results with the cached oracle hashes of one table
    directory, filling the cache in a child process when it is stale."""

    def __init__(self, repo_root: str, sf_dir: str, cache_dir: str) -> None:
        from hybridbackend_spark.queries import get_oracles

        self.co = _load_check_oracle(repo_root)
        self.repo_root = repo_root
        self.sf_dir = sf_dir
        self.oracles = get_oracles()
        self.path = os.path.join(cache_dir, f"{os.path.basename(sf_dir)}.json")
        self.stamp = self._stamp()
        self.cache = {}
        try:
            with open(self.path) as f:
                saved = json.load(f)
            if saved.get("stamp") == self.stamp:
                self.cache = saved["queries"]
        except (OSError, ValueError, KeyError):
            pass

    def _stamp(self) -> str:
        """Changes when a table file or the hash code changes."""
        files = sorted(
            os.path.join(self.sf_dir, f) for f in os.listdir(self.sf_dir)
            if f.endswith(".parquet")
        )
        files.append(os.path.join(self.repo_root, "tools", "check_oracle.py"))
        parts = []
        for p in files:
            st = os.stat(p)
            parts.append(f"{p}:{st.st_mtime_ns}:{st.st_size}")
        return hashlib.sha256("\n".join(parts).encode()).hexdigest()

    def _sql_key(self, name: str) -> str:
        return hashlib.sha256(self.oracles[name].encode()).hexdigest()

    def prepare(self, names) -> None:
        """Compute the oracle hashes that are missing or whose SQL changed."""
        stale = [
            n for n in names
            if n in self.oracles and self.cache.get(n, {}).get("sql") != self._sql_key(n)
        ]
        if not stale:
            return
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = self.path + ".part"
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--sf-dir", self.sf_dir,
             "--out", tmp, *stale],
            check=True, timeout=900,
        )
        with open(tmp) as f:
            fresh = json.load(f)
        os.remove(tmp)
        for n in stale:
            self.cache[n] = dict(fresh[n], sql=self._sql_key(n))
        with open(tmp, "w") as f:
            json.dump({"stamp": self.stamp, "queries": self.cache}, f)
        os.replace(tmp, self.path)

    def compare(self, name: str, cols: list[str], rows: list[tuple]) -> str | None:
        """None when the result matches its oracle, else the reason."""
        if name not in self.oracles:
            return "no oracle registered"
        want = self.cache.get(name)
        if want is None:
            return "oracle hash not computed"
        if "error" in want:
            return f"oracle failed: {want['error']}"
        if sorted(cols) != sorted(want["cols"]):
            return f"columns {sorted(cols)} != {sorted(want['cols'])}"
        shash = self.co.table_hash(rows, cols)
        if shash != want["hash"]:
            return f"hash {shash} != oracle {want['hash']}"
        return None


def main() -> int:
    ap = argparse.ArgumentParser(description="Compute DuckDB oracle hashes.")
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()
    root = _repo_root()
    sys.path.insert(0, root)
    out = oracle_hashes(root, args.sf_dir, args.queries)
    with open(args.out, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
