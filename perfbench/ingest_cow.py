"""``ingest_cow``: the production streaming path, closed loop.

Set-up writes groups of binlog segments with ``write_feed_chunks``
(``synth_cdc_feed`` with hot-url skew, duplicates and deletes). The
timed loop lands one group at a time in the feed directory and calls
``run_ingest`` on it: ``maxFilesPerTrigger=1`` gives one trigger per
segment, merges are copy-on-write, and ``maintenance_every`` equal to
the group size runs inline compaction and snapshot expiry once per
call. Each group's timestamps lie past the previous group's, and the
key space is small enough that every batch after the first rewrites
files that already exist.

The traced loop splits each trigger at the ``on_batch_applied`` hook,
which ``run_ingest`` calls after the batch's merge and before its
inline maintenance, so ``merge.*`` and ``maintain.*`` each count only
their own part of the trigger.
"""

from __future__ import annotations

import glob
import os
import shutil
import threading
import time
from datetime import datetime

from pyspark.sql import functions as F

import harness
import oracle
from ais_etl_spark.feed import synth_cdc_feed
from ais_etl_spark.lake import LakeTable
from ais_etl_spark.streaming.health import HealthListener
from ais_etl_spark.streaming.ingest import run_ingest, write_feed_chunks

CHUNKS_PER_GROUP = 3
# calls the loop makes even past --seconds: the median of three
# survives one call slowed by the host
MIN_ROUNDS = 3
N_BUCKETS = 16


class ProgressLog(HealthListener):
    """The engine's health listener, also keeping every progress event
    (trigger start, durations, rows) per run."""

    def __init__(self):
        super().__init__()
        self.runs: list[str] = []
        self.events: dict[str, list[dict]] = {}
        self.done: dict[str, threading.Event] = {}

    def onQueryStarted(self, event) -> None:
        super().onQueryStarted(event)
        self.done.setdefault(str(event.runId), threading.Event())
        self.runs.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        super().onQueryProgress(event)
        p = event.progress
        self.events.setdefault(str(p.runId), []).append({
            "batch_id": p.batchId,
            "start": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
            "trigger_s": p.durationMs.get("triggerExecution", 0) / 1e3,
            "add_batch_s": p.durationMs.get("addBatch", 0) / 1e3,
            # the trigger's last step, after addBatch
            "commit_s": p.durationMs.get("commitOffsets", 0) / 1e3,
            "rows": p.numInputRows,
        })

    def onQueryTerminated(self, event) -> None:
        super().onQueryTerminated(event)
        self.done.setdefault(str(event.runId), threading.Event()).set()


class IngestCow:
    def __init__(self, spark, work: str, seed: int, tiny: bool):
        self.spark, self.work, self.seed = spark, work, seed
        self.events_per_chunk = 4_000 if tiny else 15_000
        self.groups = 2 if tiny else MIN_ROUNDS + 1
        self.n_urls = 4_000 if tiny else 50_000
        self.listener = ProgressLog()
        spark.streams.addListener(self.listener)

    def _write_group(self, g: int, out: str, n: int) -> None:
        feed = synth_cdc_feed(
            self.spark, n_events=n, seed=self.seed * 1000 + g, hot_pct=20,
            n_urls=self.n_urls, num_partitions=harness.cores(),
        )
        shift = g * n
        feed = (
            feed.withColumn("event_id", F.col("event_id") + shift)
            .withColumn("offset", F.col("offset") + shift)
            .withColumn("warc_ts", F.timestamp_seconds(F.unix_timestamp("warc_ts") + shift))
        )
        tmp = out + ".tmp"
        feed.write.parquet(tmp)
        # one task per segment, so each segment is one file and one trigger
        write_feed_chunks(self.spark.read.parquet(tmp).coalesce(1), out, CHUNKS_PER_GROUP)
        shutil.rmtree(tmp)

    def setup(self) -> list[float]:
        n = self.events_per_chunk * CHUNKS_PER_GROUP
        times = []
        for g in range(self.groups):
            t0 = time.perf_counter()
            self._write_group(g, os.path.join(self.work, "stage", str(g)), n)
            times.append(time.perf_counter() - t0)
        # untimed warm-up drain on its own table: JIT and codegen
        warm = os.path.join(self.work, "warm")
        self._write_group(0, os.path.join(warm, "feed", "g"), n // 8)
        run_ingest(self.spark, os.path.join(warm, "feed", "g"), os.path.join(warm, "t"),
                   os.path.join(warm, "ck"), max_files_per_trigger=1,
                   maintenance_every=CHUNKS_PER_GROUP, n_buckets=N_BUCKETS)
        shutil.rmtree(warm)
        return times

    def measure(self, seconds: float, tracer, tag: str) -> dict:
        base = os.path.join(self.work, tag)
        feed, table_path = os.path.join(base, "feed"), os.path.join(base, "table")
        calls, batches, stage_sets, applied = [], [], [], []
        failed = 0
        n_group = self.events_per_chunk * CHUNKS_PER_GROUP
        t_end = time.perf_counter() + seconds
        for g in range(self.groups):
            if time.perf_counter() >= t_end and len(calls) >= MIN_ROUNDS:
                break
            src = os.path.join(self.work, "stage", str(g))
            for d in sorted(os.listdir(src)):  # land the segments (untimed)
                shutil.copytree(os.path.join(src, d), os.path.join(feed, f"g{g}-{d}"))
            hooks: list[tuple[float, float, dict]] = []

            def hook(t, hooks=hooks):
                # runs between the batch's merge and its inline maintenance
                t_in = time.time()
                rec = merge_record(t)
                hooks.append((t_in, time.time(), rec))

            try:
                with tracer.span("streaming.run_ingest", round=g) as sp:
                    table = run_ingest(
                        self.spark, feed, table_path, os.path.join(base, "ck"),
                        max_files_per_trigger=1, maintenance_every=CHUNKS_PER_GROUP,
                        n_buckets=N_BUCKETS, on_batch_applied=hook if tracer.enabled else None,
                    )
            except Exception as e:  # the loop cannot go on without the table
                print(f"ingest_cow: run_ingest failed: {e!r}", flush=True)
                failed = CHUNKS_PER_GROUP
                break
            run_id = self.listener.runs[-1]
            self.listener.done[run_id].wait(30)
            calls.append(sp["wall_s"])
            got = self.listener.events.get(run_id, [])
            batches += got
            if tracer.enabled:
                jobs = self.spark.sparkContext.statusTracker().getJobIdsForGroup(run_id)
                for b in got:
                    # progress times are whole milliseconds
                    w = (b["start"] - 1e-3, b["start"] + b["trigger_s"] + 1e-3)
                    stage_sets.append(harness.stage_sums(self.spark, jobs, w))
                applied += split_batches(self.spark, jobs, got, hooks)
        trig = [b["trigger_s"] for b in batches if b["rows"]]
        # events of one group over the median run_ingest call
        rate = n_group / harness.median(calls) if calls else 0.0
        tail_s, pct = harness.tail(trig)
        return {
            "table": table_path, "feed": feed,
            "attempted": (len(calls) + (failed > 0)) * CHUNKS_PER_GROUP,
            "failed": failed, "batches": batches, "stage_sets": stage_sets,
            "applied": applied, "events": n_group * len(calls),
            "rounds": len(calls), "round_times": calls,
            "e2e": {
                "rate_per_s": rate,
                "round_p50_s": harness.median(calls),
                "op_latency_ms": harness.median(trig) * 1e3,
            },
            "report": {
                "ingest_events_per_s": (rate, "1/s"),
                "batch_p50_s": (harness.median(trig), "s"),
                f"batch_tail_s(p{pct},n={len(trig)})": (tail_s if pct else None, "s"),
            },
        }

    def check(self, m: dict, corrupt: bool) -> int:
        table = LakeTable.load(self.spark, m["table"])
        if corrupt:
            oracle.corrupt_file(table)
        want = oracle.replay(sorted(glob.glob(os.path.join(m["feed"], "*", "part-*.parquet"))))
        bad = oracle.mismatches(oracle.as_rows(table.read()), want)
        print(f"ingest_cow check: {len(want)} live keys, {bad} mismatched", flush=True)
        return m["attempted"] if bad else 0

    def layers(self, m: dict, tracer) -> dict:
        b = [x for x in m["batches"] if x["rows"]]
        rounds = max(m["rounds"], 1)
        merges = m["applied"]
        maints = [x for x in merges if x["maintained"]]
        out = {
            "streaming.trigger_p50_s": harness.median([x["trigger_s"] for x in b]),
            "streaming.add_batch_p50_s": harness.median([x["add_batch_s"] for x in b]),
            "streaming.overhead_p50_s":
                harness.median([x["trigger_s"] - x["add_batch_s"] for x in b]),
            "streaming.batches": len(m["batches"]) / rounds,
            # landed events per trigger that read any (numInputRows
            # counts a batch once per read of it, so it is not used)
            "streaming.rows_in": m["events"] / max(len(b), 1),
            "merge.wall_p50_s": harness.median([x["merge_s"] for x in merges]),
            "maintain.wall_s": harness.median([x["maint_s"] for x in maints]),
            "maintain.bytes_rewritten":
                sum(x["maint"]["output_bytes"] for x in maints) / max(len(maints), 1),
        }
        for k in harness.STAGE_FIELDS:
            out[f"merge.{k}"] = sum(x["merge"][k] for x in merges) / max(len(merges), 1)
        out.update(merge_counts(merges))
        return out


def split_batches(spark, jobs, batches: list[dict], hooks: list) -> list[dict]:
    """Each applied batch's addBatch, split at the ``on_batch_applied``
    hook into the merge before it and the inline maintenance after it
    (compaction and snapshot expiry, every ``CHUNKS_PER_GROUP``-th
    batch), with the stage metrics of each part and the hook's
    ``merge_record``."""
    out = []
    for i, (t_in, t_out, rec) in enumerate(hooks):
        for b in batches:
            end = b["start"] + b["trigger_s"] - b["commit_s"]
            start = end - b["add_batch_s"]
            # progress times are whole milliseconds
            if start - 2e-3 <= t_in <= end + 2e-3:
                out.append({
                    **rec,
                    "maintained": (i + 1) % CHUNKS_PER_GROUP == 0,
                    "merge_s": t_in - start, "maint_s": max(end - t_out, 0.0),
                    "merge": harness.stage_sums(spark, jobs, (start - 2e-3, t_in)),
                    "maint": harness.stage_sums(spark, jobs, (t_out, end + 2e-3)),
                })
                break
    return out


def merge_record(table) -> dict:
    """File and row counts of the table's newest commit, a merge: rows
    written are the manifest ``n_rows`` of the files it added."""
    c = table.commit()
    ln = c.get("lineage") or {}
    old = {f["path"] for f in table.commit(c["parent"])["files"]}
    return {
        "files_rewritten": ln.get("files_rewritten", 0),
        "files_written": ln.get("files_written", 0),
        "rows_written": sum(f.get("n_rows") or 0 for f in c["files"] if f["path"] not in old),
        "changed": sum(ln.get(k) or 0 for k in ("inserts", "updates", "deletes",
                                                 "upserts", "tombstones")),
        "events": sum(o.get("events", 0) for o in ln.get("source_offsets") or []),
    }


def merge_counts(recs: list[dict]) -> dict:
    """Per-merge means of the file counts, the write amplification
    (rows written ÷ rows changed) and winners per input event."""
    n = max(len(recs), 1)
    tot = {k: sum(r[k] for r in recs) for k in
           ("files_rewritten", "files_written", "rows_written", "changed", "events")}
    return {
        "merge.files_rewritten": tot["files_rewritten"] / n,
        "merge.files_written": tot["files_written"] / n,
        "merge.rewrite_amplification": tot["rows_written"] / max(tot["changed"], 1),
        "merge.winners_per_event": tot["changed"] / max(tot["events"], 1),
    }
