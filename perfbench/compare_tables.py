"""How closely the seeded stand-in tables (``tables.py``) reproduce a
reference table directory for the contract queries ``query_suite``
runs. Run from the repository root:

    python3 perfbench/compare_tables.py --reference DIR [--sf 0.1] [--seed 0]
    python3 perfbench/compare_tables.py --recall-seeds 20 [--sf 0.1]

The first form runs a cold pass and ``--warm`` warm passes over both
directories in one ``local[nproc]`` session and prints, per query, the
share of the warm-pass time and the result row count on each side,
plus the near-duplicate funnel of the corpus: MinHash-LSH candidate
pairs, 3-gram Jaccard >= 0.5 pairs, and how many of those the
candidates miss. The second form needs no Spark: over generator seeds
``0..N-1`` it counts, with the DuckDB oracles, the Jaccard >= 0.5 pairs
the LSH candidates miss, which is where ``dedup_ngram_jaccard``'s
candidate-restricted chain departs from its exact oracle.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import time

import duckdb

ROOT = os.getcwd()
sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts"), os.path.dirname(os.path.abspath(__file__))]
os.environ["PYTHONPATH"] = os.pathsep.join(
    [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x])

import tables  # noqa: E402
from ais_etl_spark import contract  # noqa: E402
from bench import QUERY_NAMES  # noqa: E402
from check_contract import TABLES  # noqa: E402


def funnel(table_dir: str) -> dict:
    """LSH candidate pairs, Jaccard >= 0.5 pairs and the latter missing
    from the former, from the DuckDB oracles over ``table_dir``."""
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{table_dir}/documents.parquet'")
        cand = set(con.execute(contract.ORACLES["dedup_minhash_lsh"]).fetchall())
        exact = con.execute(contract.ORACLES["dedup_ngram_jaccard"]).fetchall()
        exact = {(a, b) for a, b, _ in exact}
    return {"candidates": len(cand), "jaccard_pairs": len(exact), "missed": len(exact - cand)}


def passes(spark, table_dir: str, warm: int) -> dict[str, tuple[float, int]]:
    """Per query: median warm time and result rows."""
    times: dict[str, list[float]] = {q: [] for q in QUERY_NAMES}
    rows: dict[str, int] = {}
    for i in range(warm + 1):
        for q in QUERY_NAMES:
            t0 = time.perf_counter()
            rows[q] = len(contract.QUERIES[q](spark, table_dir).collect())
            if i:
                times[q].append(time.perf_counter() - t0)
    return {q: (statistics.median(times[q]), rows[q]) for q in QUERY_NAMES}


def compare(args, work: str) -> None:
    import harness

    stand_in = os.path.join(work, "tables")
    tables.make_tables(stand_in, args.seed, args.sf)
    spark = harness.start_spark(work)
    try:
        got = {"reference": passes(spark, args.reference, args.warm),
               "stand-in": passes(spark, stand_in, args.warm)}
    finally:
        spark.stop()
    tot = {k: sum(t for t, _ in v.values()) for k, v in got.items()}
    print(f"{'query':32s} {'share ref':>9s} {'stand-in':>9s} {'rows ref':>9s} {'stand-in':>9s}")
    for q in QUERY_NAMES:
        (tr, nr), (ts, ns) = got["reference"][q], got["stand-in"][q]
        print(f"{q:32s} {tr / tot['reference']:9.3f} {ts / tot['stand-in']:9.3f} {nr:9d} {ns:9d}")
    print(f"{'warm pass total (s)':32s} {tot['reference']:9.2f} {tot['stand-in']:9.2f}")
    for k, d in (("reference", args.reference), ("stand-in", stand_in)):
        print(f"near-duplicate funnel, {k}: {funnel(d)}")


def recall(args, work: str) -> None:
    for seed in range(args.recall_seeds):
        d = os.path.join(work, str(seed))
        tables.make_tables(d, seed, args.sf)
        print(f"seed {seed}: {funnel(d)}", flush=True)
        shutil.rmtree(d)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--reference", help="directory holding the reference tables")
    p.add_argument("--sf", type=float, default=0.1)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--warm", type=int, default=3)
    p.add_argument("--recall-seeds", type=int, default=0)
    args = p.parse_args()
    if not (args.reference or args.recall_seeds):
        p.error("give --reference or --recall-seeds")
    missing = [t for t in TABLES if args.reference
               and not os.path.exists(os.path.join(args.reference, f"{t}.parquet"))]
    if missing:
        p.error(f"no {missing} under {args.reference}")
    work = os.path.join(ROOT, ".perfbench_work", f"compare-{os.getpid()}")
    os.makedirs(work)
    try:
        if args.recall_seeds:
            recall(args, work)
        else:
            compare(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
