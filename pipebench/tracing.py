"""Traced run: the publish pipeline composed from its layers' public
functions, one span and one Spark job group per layer call, and the
Spark event log folded onto those spans.

`traced_publish` restates `plans.pipeline.run_publish_pipeline` step by
step and materializes every layer's output at its boundary, so a
layer's jobs, tasks, shuffle bytes and executor time attribute to that
layer alone. Materializing changes the plan (an upstream layer runs
once instead of once per consumer), so span times are layer costs of
this composition, not shares of the untraced run; the benchmark
reports both runs' wall times and their difference as tracing
overhead. The benchmark checks that this composition writes the same
tables as the untraced pipeline, so the two cannot drift apart
silently.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alma_publish_to_marc_spark import metrics as MET
from alma_publish_to_marc_spark.operators import upsert as U
from alma_publish_to_marc_spark.plans import pipeline as PL
from alma_publish_to_marc_spark.sources import publish as P


class Tracer:
    """Spans kept in memory; each span sets its own Spark job group, so
    `statusTracker` and the event log can attribute jobs to it."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["id"], span["name"])

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": f"bench-span-{len(self.spans)}", "name": name,
               "layer": name.split(".")[0],
               "parent": parent["id"] if parent else None,
               "start": time.time()}
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            tracker = self.sc.statusTracker()
            rec["jobs"] = sorted(tracker.getJobIdsForGroup(rec["id"]))
            rec["stages"] = sum(len(info.stageIds) for info in
                                (tracker.getJobInfo(j) for j in rec["jobs"])
                                if info is not None)
            self._set_group(parent)

    def materialize(self, df: DataFrame) -> DataFrame:
        """Persist and count: the layer boundary."""
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
        return df

    def release(self) -> None:
        # one clearCache, not an unpersist per frame: each unpersist
        # re-plans every cached frame built on the released one, which
        # took ~8 s over a traced run's ~40 persisted frames
        self.spark.catalog.clearCache()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


@contextmanager
def job_group(spark: SparkSession, group: str):
    """Run untraced work under a named job group (for event-log
    attribution of whole runs)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under a table directory."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def traced_publish(spark: SparkSession, tr: Tracer, landing_dir: str,
                   warehouse_dir: str, batch_ts,
                   location: DataFrame | None) -> dict:
    """`run_publish_pipeline`, one layer at a time. Returns the run
    counters, the split's row counts and the merge accounting."""
    t = tr.materialize
    with tr.span("publish"):
        records = t(P.read_publish_records(spark, landing_dir))
        deletes = t(P.read_delete_manifests(spark, landing_dir))
    with tr.span("split"):
        out = {k: t(v) for k, v in PL.split_publish(records).items()}
    with tr.span("extract"):
        bibs = t(PL.extract_bib_brief(out["bibs"], batch_ts))
        holdings = t(PL.extract_holding_brief(out["holdings"], location,
                                              batch_ts))
        items = t(PL.extract_items(out["items"], batch_ts))
        parts = t(PL.extract_bib_parts(out["bibs"]))

    def ts_col(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "_ts", F.coalesce(F.col("system_update_date_time"),
                              F.col("batch_ts"))).drop("batch_ts")

    def template(df: DataFrame) -> DataFrame:
        return (ts_col(df).withColumn("create_date_time", F.col("_ts"))
                .withColumn("update_date_time", F.col("_ts"))
                .withColumn("version", F.lit(1).cast("long")))

    with tr.span("upsert"):
        stored_b = t(PL._read_table(spark, warehouse_dir, "bib_brief",
                                    template(bibs)))
        stored_h = t(PL._read_table(spark, warehouse_dir, "holding_brief",
                                    template(holdings)))
        stored_i0 = t(PL._read_table(spark, warehouse_dir, "item",
                                     template(items)))
        stored_p = t(PL._read_table(spark, warehouse_dir, "bib_part", parts))
        with tr.span("upsert.delete"):
            stale = U.stale_holdings_for_published_bibs(
                stored_h, out["bibs"], out["holdings"])
            surviving_h, stored_i, hist_stale = U.cascade_delete_holdings(
                stored_h, stored_i0, stale.select("holding_id"))
            surviving_h, stored_i = t(surviving_h), t(stored_i)
            stale_items = (stored_i
                           .join(out["holdings"].select("holding_id")
                                 .dropDuplicates(), "holding_id", "left_semi")
                           .join(items.select("pid").dropDuplicates(),
                                 "pid", "left_anti"))
            stored_i, hist_items = U.delete_with_history(
                stored_i, stale_items.select("pid"), "pid", "item")
            stored_i = t(stored_i)
            hist_h = t(hist_stale.unionByName(hist_items))
        with tr.span("upsert.merge"):
            merged_b = t(U.merge_upsert(stored_b, ts_col(bibs), ["mms_id"], "_ts"))
            merged_h = t(U.merge_upsert(surviving_h, ts_col(holdings),
                                        ["holding_id"], "_ts"))
            merged_i = t(U.merge_upsert(stored_i, ts_col(items), ["pid"], "_ts"))
            merged_p = t(stored_p
                         .join(out["bibs"].select("mms_id").dropDuplicates(),
                               "mms_id", "left_anti")
                         .unionByName(parts))
        with tr.span("upsert.delete"):
            final_b, hist_bib = U.delete_with_history(
                merged_b, deletes.select(F.col("mms_id"))
                .where(F.col("mms_id").isNotNull()), "mms_id", "bib")
            doomed_h = deletes.select("holding_id").where(
                F.col("holding_id").isNotNull())
            final_h, final_i, hist_cascade = U.cascade_delete_holdings(
                merged_h, merged_i, doomed_h)
            final_b, final_h, final_i = t(final_b), t(final_h), t(final_i)
            history = t(hist_h.unionByName(hist_bib).unionByName(hist_cascade)
                        .withColumn("create_date_time",
                                    F.lit(batch_ts).cast("timestamp_ntz")))

    # count what the merge did before the commit: overwriting a table
    # invalidates every cached frame that reads it
    with job_group(spark, "bench-accounting"):
        accounting = upsert_accounting(
            {"bib_brief": bibs, "holding_brief": holdings, "item": items},
            {"bib_brief": stored_b, "holding_brief": surviving_h,
             "item": stored_i},
            {"bib_brief": merged_b, "holding_brief": merged_h,
             "item": merged_i})
        accounting["history_rows"] = history.count()
        accounting["rows_written"] = (
            2 * sum(df.count() for df in (final_b, final_h, final_i, merged_p))
            + accounting["history_rows"] + out["errors"].count())

    tables = {"bib_brief": final_b, "holding_brief": final_h,
              "item": final_i, "bib_part": merged_p}
    with tr.span("commit") as commit:
        files = size = 0
        before = {n: _dir_stats(os.path.join(warehouse_dir, n))
                  for n in ("deleted_record", "errors")}
        for name, df in tables.items():
            PL._stage_table(df, warehouse_dir, name)
            f, b = _dir_stats(os.path.join(warehouse_dir, name + "._staged"))
            files, size = files + f, size + b
        history.write.mode("append").parquet(
            os.path.join(warehouse_dir, "deleted_record"))
        out["errors"].write.mode("append").parquet(
            os.path.join(warehouse_dir, "errors"))
        for name in tables:
            PL._swap_table(spark, warehouse_dir, name)
            f, b = _dir_stats(os.path.join(warehouse_dir, name))
            files, size = files + f, size + b
        for name, (f0, b0) in before.items():
            f, b = _dir_stats(os.path.join(warehouse_dir, name))
            files, size = files + f - f0, size + b - b0
        commit["files_written"], commit["bytes_written"] = files, size
    with tr.span("counters"):
        counters = MET.run_counters(out, records)
        counters["cnt_deletes"] = deletes.count()
    return {"counters": counters, "records": counters["cnt_records"],
            "split": {k: v.count() for k, v in out.items()},
            "accounting": accounting}


def upsert_accounting(incoming: dict, stored: dict,
                      merged: dict) -> dict[str, int]:
    """Rows the merge inserted, updated and held back by the temporal
    guard (matched but not newer), per entity table, summed."""
    keys = {"bib_brief": "mms_id", "holding_brief": "holding_id",
            "item": "pid"}
    acc = {"rows_incoming": 0, "rows_inserted": 0, "rows_updated": 0,
           "rows_guarded": 0}
    for name, key in keys.items():
        inc = incoming[name].select(key).distinct()
        before = stored[name].select(key, F.col("version").alias("_v0"))
        matched = (merged[name].select(key, "version").join(before, key)
                   .join(inc, key, "left_semi"))
        row = matched.agg(
            F.count(F.lit(1)).alias("matched"),
            F.count(F.when(F.col("version") > F.col("_v0"), 1)).alias("upd"),
        ).collect()[0]
        acc["rows_incoming"] += incoming[name].count()
        acc["rows_updated"] += row["upd"]
        acc["rows_guarded"] += row["matched"] - row["upd"]
        acc["rows_inserted"] += inc.join(before, key, "left_anti").count()
    return acc


def table_digest(spark: SparkSession, warehouse_dir: str,
                 names: tuple[str, ...]) -> dict[str, tuple[int, str]]:
    """Order-independent (rows, hash sum) of each table, for comparing
    two warehouses cell by cell without collecting them; one query."""
    parts = []
    for name in names:
        df = spark.read.parquet(os.path.join(warehouse_dir, name))
        cols = sorted(df.columns)
        parts.append(df.select(F.lit(name).alias("t"),
                               F.xxhash64(*[F.col(c) for c in cols]).alias("h")))
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    rows = union.groupBy("t").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s")).collect()
    found = {r["t"]: (r["n"], str(r["s"])) for r in rows}
    return {name: found.get(name, (0, "None")) for name in names}


# --- event log ------------------------------------------------------------
class EventLog:
    """Task-level facts of a finished application's event log, keyed by
    the job group each stage ran under."""

    def __init__(self, log_dir: str, app_id: str) -> None:
        paths = [p for p in glob.glob(os.path.join(log_dir, f"*{app_id}*"))
                 if os.path.isfile(p)]
        # a rolling log is a directory of events_<n>_<app id> files
        paths += sorted(glob.glob(os.path.join(log_dir, f"*{app_id}*", "events_*")),
                        key=lambda p: int(os.path.basename(p).split("_")[1]))
        if not paths:
            raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
        self.stage_group: dict[int, str | None] = {}
        self.jobs: dict[str | None, list[int]] = defaultdict(list)
        self.tasks: dict[str | None, list[dict]] = defaultdict(list)
        for path in paths:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[props.get("spark.jobGroup.id")].append(e["Job ID"])
        elif kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            self.stage_group[e["Stage Info"]["Stage ID"]] = props.get(
                "spark.jobGroup.id")
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            acc = {a.get("Name"): a.get("Update") for a in
                   info.get("Accumulables", [])}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self.tasks[self.stage_group.get(e["Stage ID"])].append({
                "launch": info["Launch Time"] / 1000.0,
                "finish": info["Finish Time"] / 1000.0,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "shuffle_read": (sr.get("Remote Bytes Read", 0)
                                 + sr.get("Local Bytes Read", 0)),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "input_records": (m.get("Input Metrics") or {}).get(
                    "Records Read", 0),
                "python_s": float(acc.get("time to run Python workers") or 0)
                            / 1000.0,
            })

    def for_groups(self, groups) -> list[dict]:
        return [t for g in groups for t in self.tasks.get(g, [])]


def busy_union(tasks: list[dict], start: float, end: float) -> float:
    """Seconds of [start, end] during which at least one task ran."""
    spans = sorted((max(t["launch"], start), min(t["finish"], end))
                   for t in tasks)
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy
