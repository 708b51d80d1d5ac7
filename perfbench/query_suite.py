"""``query_suite``: warm passes over the ``bench.py`` contract queries.

Set-up writes the tables (``tables.make_tables`` at the reference
scale factor 0.1) and runs the cold pass, which pays whole-stage
codegen and JIT. The timed loop repeats warm passes, collecting every
result; after the loop each result's value hash must equal that of its
``oracle_sql()`` DuckDB twin over the same tables.

The tables stand in for one fixed reference directory, so they are the
same on every run: the workload ignores ``--seed``. Their oracle hashes
are stored in ``oracle_hashes.json`` under a fingerprint of the table
files; tables with another fingerprint are checked against oracle
hashes computed on the spot. Rewrite the file with

    python3 perfbench/query_suite.py
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import sys
import time

if __name__ == "__main__":  # run as a script from the repository root
    sys.path[:0] = [os.getcwd(), os.path.join(os.getcwd(), "scripts")]

import duckdb  # noqa: E402

import harness  # noqa: E402
import tables  # noqa: E402
from ais_etl_spark import contract  # noqa: E402
from bench import QUERY_NAMES  # noqa: E402
from check_contract import TABLES, value_hash  # noqa: E402

TABLE_SEED = 0
SCALES = {"full": 0.1, "tiny": 0.005}
HASH_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_hashes.json")


def fingerprint(table_dir: str) -> str:
    """SHA-256 over the bytes of the ten table files."""
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(table_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def oracle_hashes(table_dir: str) -> dict[str, str]:
    """Value hash of every query's ``oracle_sql()`` result, by DuckDB."""
    out = {}
    with duckdb.connect() as con:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
        for name in QUERY_NAMES:
            res = con.execute(contract.ORACLES[name])
            out[name] = value_hash([d[0] for d in res.description], res.fetchall())
    return out


def stored_hashes() -> dict[str, dict[str, str]]:
    if not os.path.exists(HASH_FILE):
        return {}
    with open(HASH_FILE) as f:
        return {fp: v["hashes"] for fp, v in json.load(f).items()}


class QuerySuite:
    def __init__(self, spark, work: str, seed: int, tiny: bool):
        self.spark = spark
        self.sf = SCALES["tiny" if tiny else "full"]
        self.dir = os.path.join(work, "tables")
        self.sample = None  # (index, columns, rows) of one result, for --corrupt

    def _run(self, name: str) -> tuple[list[str], list[tuple]]:
        df = contract.QUERIES[name](self.spark, self.dir)
        return df.columns, [tuple(r) for r in df.collect()]

    def setup(self) -> list[float]:
        """One unit: a second cold pass would be warm."""
        t0 = time.perf_counter()
        tables.make_tables(self.dir, TABLE_SEED, self.sf)
        for name in QUERY_NAMES:
            self._run(name)
        return [time.perf_counter() - t0]

    def measure(self, seconds: float, tracer, tag: str) -> dict:
        passes, per_query, hashes = [], {q: [] for q in QUERY_NAMES}, []
        failed = attempted = 0
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end:
            with tracer.span("pass", round=len(passes)) as ps:
                for name in QUERY_NAMES:
                    attempted += 1
                    try:
                        with tracer.span(f"contract.{name}", round=len(passes)) as sp:
                            cols, rows = self._run(name)
                    except Exception as e:
                        print(f"query_suite: {name} failed: {e!r}", flush=True)
                        failed += 1
                        continue
                    per_query[name].append(sp["wall_s"])
                    hashes.append((name, value_hash(cols, rows)))
                    if self.sample is None:
                        self.sample = (len(hashes) - 1, cols, rows)
            passes.append(ps["wall_s"])
        times = [t for ts in per_query.values() for t in ts]
        return {
            "attempted": attempted, "failed": failed, "rounds": len(passes), "round_times": passes,
            "hashes": hashes, "per_query": per_query,
            "e2e": {
                "rate_per_s": len(times) / sum(times) if times else 0.0,
                "round_p50_s": harness.median(passes),
                # a geometric mean: the median of 18 different queries
                # is one query's time and jumps between queries
                "op_latency_ms": statistics.geometric_mean(times) * 1e3 if times else 0.0,
            },
            "report": {
                f"query_warm_total_s(passes={len(passes)})": (harness.median(passes), "s"),
            },
        }

    def check(self, m: dict, corrupt: bool) -> int:
        hashes = list(m["hashes"])
        if corrupt and self.sample is not None:
            i, cols, rows = self.sample
            hashes[i] = (hashes[i][0], value_hash(cols, rows[:-1]))
        fp = fingerprint(self.dir)
        want = stored_hashes().get(fp)
        source = "stored"
        if want is None:
            want, source = oracle_hashes(self.dir), "computed"
        bad = sum(h != want[name] for name, h in hashes)
        print(f"query_suite check: {len(hashes)} results, {bad} differ from the oracle "
              f"({source} oracle hashes, tables {fp[:12]})", flush=True)
        return bad

    def layers(self, m: dict, tracer) -> dict:
        out = {}
        for name, ts in m["per_query"].items():
            spans = tracer.by_name(f"contract.{name}")
            n = max(len(spans), 1)
            out[f"contract.{name}.warm_s"] = harness.median(ts)
            out[f"contract.{name}.jobs"] = tracer.total(f"contract.{name}", "jobs") / n
            out[f"contract.{name}.shuffle_write_bytes"] = (
                tracer.total(f"contract.{name}", "shuffle_write_bytes") / n)
        return out


def write_hash_file() -> None:
    """Generate the tables at every scale and store their oracle hashes."""
    work = os.path.join(os.getcwd(), ".perfbench_work", f"oracle-{os.getpid()}")
    out = {}
    try:
        for sf in SCALES.values():
            d = os.path.join(work, str(sf))
            tables.make_tables(d, TABLE_SEED, sf)
            out[fingerprint(d)] = {"sf": sf, "seed": TABLE_SEED, "hashes": oracle_hashes(d)}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(HASH_FILE, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    write_hash_file()
