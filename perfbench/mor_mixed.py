"""``mor_mixed``: merge-on-read writes beside reads, closed loop.

Set-up builds a base table (copy-on-write batches of a
``synth_cdc_feed``) and writes the update batches, whose event ids and
timestamps are shifted past the base so that most updates win, as in
``bench.py``'s ``mor_vs_cow``. Each round applies ``MAINTAIN_EVERY``
update batches with ``merge_mode="mor"``; after each batch it makes
point ``lookup()`` calls on hot, cold and absent keys, scans the
resolved snapshot grouped by ``lang`` and counts ``changes()`` since
the previous snapshot, so the reads run over a delta backlog of one to
``MAINTAIN_EVERY`` batches. The round ends with ``compact_deltas()``
and ``expire_snapshots()``, which fold the backlog away. Answers are
recorded and checked against a DuckDB replay after the loop.

``expire_snapshots()`` runs after the round's timer stops and counts
only in the per-layer ``maintain.*`` metrics. Its time is that of its
unlinks, and on a disk mounted with online discard an unlink costs
about 60 ms once the kernel has written the file back (on a 30 s
timer) and almost nothing before: the same expiry took 0.15 s in one
run and 2 to 4.5 s in others, which no end-to-end bound could hold.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from pyspark.sql import functions as F

import harness
import oracle
from ais_etl_spark.feed import synth_cdc_feed
from ais_etl_spark.lake import LakeTable
from ais_etl_spark.streaming.ingest import PAGES_SCHEMA, apply_cdc_batch, write_feed_chunks
from ingest_cow import merge_counts, merge_record

BASE_UNITS = 3
MAINTAIN_EVERY = 3
N_BUCKETS = 16
WARM_LOOKUP_PASSES = 20


def _url(i: int) -> str:
    return f"https://site-{i % 997}.example.com/page/{i}"


def _files(d: str) -> list[str]:
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))


class MorMixed:
    def __init__(self, spark, work: str, seed: int, tiny: bool):
        self.spark, self.work, self.seed = spark, work, seed
        self.n_base = 15_000 if tiny else 120_000
        self.n_upd = 3_000 if tiny else 10_000
        self.batches = MAINTAIN_EVERY * (1 if tiny else 4)
        self.n_urls = self.n_base // 10
        rng = random.Random(seed)
        self.keys = (
            [_url(i) for i in range(4)]
            + [_url(rng.randrange(4, self.n_urls)) for _ in range(10)]
            + [_url(rng.randrange(self.n_urls, 2 * self.n_urls)) for _ in range(2)]
        )

    def _feed(self, n: int, seed: int, shift: int, ts_shift: int):
        feed = synth_cdc_feed(self.spark, n_events=n, seed=seed, hot_pct=20,
                              n_urls=self.n_urls, num_partitions=harness.cores())
        return (
            feed.withColumn("event_id", F.col("event_id") + shift)
            .withColumn("offset", F.col("offset") + shift)
            .withColumn("warc_ts", F.timestamp_seconds(F.unix_timestamp("warc_ts") + ts_shift))
        )

    def setup(self) -> list[float]:
        """Three equal units, each one third of the base table (a CoW
        batch) plus one third of the update batches."""
        base_path = os.path.join(self.work, "base")
        table = LakeTable.create(self.spark, base_path, PAGES_SCHEMA, key="url",
                                 order_col="warc_ts", n_buckets=N_BUCKETS)
        part = self.n_base // BASE_UNITS
        per_unit = self.batches // BASE_UNITS
        self.base_files: list[str] = []
        self.upd_dirs: list[str] = []
        times = []
        for u in range(BASE_UNITS):
            t0 = time.perf_counter()
            d = os.path.join(self.work, "base_feed", str(u))
            self._feed(part, self.seed * 1000 + u, u * part, u * part).write.parquet(d)
            apply_cdc_batch(table, self.spark.read.parquet(d), batch_id=f"base-{u}")
            self.base_files += _files(d)
            shift = self.n_base + u * per_unit * self.n_upd
            d = os.path.join(self.work, "upd", str(u))
            write_feed_chunks(
                self._feed(per_unit * self.n_upd, self.seed * 1000 + 100 + u,
                           shift, shift + 10**7),
                d, per_unit)
            self.upd_dirs += [os.path.join(d, x) for x in sorted(os.listdir(d))]
            times.append(time.perf_counter() - t0)
        # untimed warm-up round on a copy, with small batches: JIT and
        # codegen of the MoR, lookup, scan, changelog and compaction paths
        warm = os.path.join(self.work, "warm")
        shutil.copytree(base_path, warm)
        shift = 2 * self.n_base + self.batches * self.n_upd
        write_feed_chunks(self._feed(MAINTAIN_EVERY * 4_000, self.seed * 1000 + 99, shift,
                                     shift + 10**7),
                          os.path.join(warm, "feed"), MAINTAIN_EVERY)
        dirs = sorted(os.path.join(warm, "feed", x) for x in os.listdir(os.path.join(warm, "feed")))
        table = LakeTable.load(self.spark, warm)
        self._round(table, list(enumerate(dirs)), 0, harness.Tracer(self.spark, False),
                    self._new_rec())
        # lookup latency settles only after a few hundred calls (JIT of
        # the planning path); without these its median moved about 10%
        # between runs of one seed
        for _ in range(WARM_LOOKUP_PASSES):
            for k in self.keys[:-2]:  # the keys that exist
                table.lookup(k).select(F.unix_micros("warc_ts"), F.md5("html")).collect()
        shutil.rmtree(warm)
        return times

    def _step(self, table, b: int, d: str, tracer, rec: dict) -> None:
        """One update batch, then the reads whose answers are checked."""
        prev = table.current_snapshot_id()
        with tracer.span("lake.merge_mor", batch=b) as sp:
            apply_cdc_batch(table, self.spark.read.parquet(d),
                            batch_id=f"upd-{b}", merge_mode="mor")
        rec["write_s"][-1] += sp["wall_s"]
        rec["apply_s"].append(sp["wall_s"])
        if tracer.enabled:
            rec["merges"].append(merge_record(table))
            rec["backlog"].append(table.table_stats()["delta_files"])
        for k in self.keys:
            with tracer.span("lake.lookup", batch=b) as sp:
                got = table.lookup(k).select(
                    F.unix_micros("warc_ts"), F.md5("html")).collect()
            rec["lookup_s"].append(sp["wall_s"])
            rec["answers"].append((b, k, tuple(got[0]) if got else None))
        with tracer.span("lake.read", batch=b) as sp:
            by_lang = table.read().groupBy("lang").count().collect()
        rec["scan_s"].append(sp["wall_s"])
        rec["scans"].append((b, sum(x[1] for x in by_lang)))
        with tracer.span("lake.changes", batch=b) as sp:
            n_changes = table.changes(prev).count()
        rec["changes_s"].append(sp["wall_s"])
        rec["changes"].append((b, n_changes))

    def _round(self, table, batches, r: int, tracer, rec: dict) -> bool:
        """``MAINTAIN_EVERY`` batches with their reads, then maintenance;
        False when a batch failed."""
        rec["write_s"].append(0.0)
        ok = True
        with tracer.span("round", round=r) as rs:
            for b, d in batches:
                rec["attempted"] += 1
                try:
                    self._step(table, b, d, tracer, rec)
                except Exception as e:  # later batches build on this one
                    print(f"mor_mixed: batch {b} failed: {e!r}", flush=True)
                    rec["failed"] += 1
                    ok = False
                    break
                rec["attempted"] += len(self.keys) + 2
            if ok:
                with tracer.span("lake.compact_deltas", round=r) as sp:
                    table.compact_deltas()
                rec["compact_s"].append(sp["wall_s"])
                rec["write_s"][-1] += sp["wall_s"]
        rec["round_s"].append(rs["wall_s"])
        if ok:  # untimed: see the module docstring
            with tracer.span("lake.expire_snapshots", round=r) as sp:
                table.expire_snapshots(keep_last=2)
            rec["expire_s"].append(sp["wall_s"])
        return ok

    @staticmethod
    def _new_rec() -> dict:
        return {"attempted": 0, "failed": 0, **{k: [] for k in (
            "round_s", "write_s", "apply_s", "compact_s", "expire_s", "lookup_s", "scan_s",
            "changes_s", "answers", "scans", "changes", "merges", "backlog")}}

    def measure(self, seconds: float, tracer, tag: str) -> dict:
        path = os.path.join(self.work, tag)
        shutil.copytree(os.path.join(self.work, "base"), path)
        table = LakeTable.load(self.spark, path)
        rec = self._new_rec()
        batches = list(enumerate(self.upd_dirs))
        t_end = time.perf_counter() + seconds
        for r in range(len(batches) // MAINTAIN_EVERY):
            if time.perf_counter() >= t_end:
                break
            if not self._round(table, batches[r * MAINTAIN_EVERY:(r + 1) * MAINTAIN_EVERY],
                               r, tracer, rec):
                break
        look_ms = [x * 1e3 for x in rec["lookup_s"]]
        tail_ms, pct = harness.tail(look_ms)
        found = [a[2] is not None for a in rec["answers"]]
        hit_ms = [t for t, f in zip(look_ms, found) if f]
        miss_ms = [t for t, f in zip(look_ms, found) if not f]
        # events of a whole round over its median write time (the MoR
        # applies plus the compaction that pays them back)
        write_s = harness.median(rec["write_s"])
        rate = MAINTAIN_EVERY * self.n_upd / write_s if write_s else 0.0
        return {
            "table": path, "rec": rec, "attempted": rec["attempted"], "failed": rec["failed"],
            "rounds": len(rec["round_s"]), "round_times": rec["round_s"],
            "e2e": {
                "rate_per_s": rate,
                "round_p50_s": harness.median(rec["round_s"]),
                "op_latency_ms": harness.median(look_ms),
            },
            "report": {
                "upsert_events_per_s": (rate, "1/s"),
                "lookup_p50_ms": (harness.median(look_ms), "ms"),
                f"lookup_tail_ms(p{pct},n={len(look_ms)})": (tail_ms if pct else None, "ms"),
                f"lookup_hit_p50_ms(n={len(hit_ms)})": (harness.median(hit_ms), "ms"),
                f"lookup_miss_p50_ms(n={len(miss_ms)})": (harness.median(miss_ms), "ms"),
                "apply_p50_s": (harness.median(rec["apply_s"]), "s"),
                "compact_p50_s": (harness.median(rec["compact_s"]), "s"),
                "expire_p50_s(untimed)": (harness.median(rec["expire_s"]), "s"),
                "scan_p50_s": (harness.median(rec["scan_s"]), "s"),
                "changes_p50_s": (harness.median(rec["changes_s"]), "s"),
            },
        }

    def check(self, m: dict, corrupt: bool) -> int:
        """Wrong answers: the final table, and every lookup, scan total
        and change count against the replay up to its batch."""
        rec = m["rec"]
        table = LakeTable.load(self.spark, m["table"])
        if corrupt:
            oracle.corrupt_file(table)
        files = list(self.base_files)
        states = [oracle.replay(files, with_event_id=True)]
        for d in self.upd_dirs[:len(rec["scans"])]:
            files += _files(d)
            states.append(oracle.replay(files, with_event_id=True))
        bad = 0
        for r, k, got in rec["answers"]:
            want = states[r + 1].get(k)
            bad += got != (want[:2] if want else None)
        for r, total in rec["scans"]:
            bad += total != len(states[r + 1])
        for r, n in rec["changes"]:
            before, after = states[r], states[r + 1]
            bad += n != sum(before.get(k) != after.get(k) for k in before.keys() | after.keys())
        final = {k: v[:2] for k, v in states[-1].items()}
        if oracle.mismatches(oracle.as_rows(table.read()), final):
            bad += len(rec["scans"])
        print(f"mor_mixed check: {len(rec['answers'])} lookups, {len(rec['scans'])} scans, "
              f"{len(rec['changes'])} changelogs, final table of {len(final)} keys; "
              f"{bad} wrong", flush=True)
        return bad

    def layers(self, m: dict, tracer) -> dict:
        rec = m["rec"]
        n_merge = max(len(tracer.by_name("lake.merge_mor")), 1)
        out = {
            "merge.wall_p50_s": harness.median(
                [s["wall_s"] for s in tracer.by_name("lake.merge_mor")]),
            **{f"merge.{k}": tracer.total("lake.merge_mor", k) / n_merge
               for k in harness.STAGE_FIELDS},
            **merge_counts(rec["merges"]),
            "read.scan_wall_p50_s": harness.median(rec["scan_s"]),
            "read.changes_wall_p50_s": harness.median(rec["changes_s"]),
            "read.input_bytes": tracer.total("lake.read", "input_bytes")
            / max(len(rec["scan_s"]), 1),
            "read.delta_backlog_files": harness.median(rec["backlog"]),
            "lookup.wall_p50_ms": harness.median([x * 1e3 for x in rec["lookup_s"]]),
            "lookup.spark_jobs": tracer.total("lake.lookup", "jobs") / max(m["rounds"], 1),
        }
        compacts = tracer.by_name("lake.compact_deltas")
        if compacts:
            out["maintain.compact_deltas_s"] = harness.median([s["wall_s"] for s in compacts])
            out["maintain.bytes_rewritten"] = (
                tracer.total("lake.compact_deltas", "output_bytes") / len(compacts))
            out["maintain.expire_s"] = harness.median(
                [s["wall_s"] for s in tracer.by_name("lake.expire_snapshots")])
            out["maintain.wall_s"] = harness.median(
                [c + e for c, e in zip(rec["compact_s"], rec["expire_s"])])
        return out
