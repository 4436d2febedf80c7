"""Publish-to-warehouse benchmark.

Run from the repository root:

    python3 pipebench/run.py --workload publish_incremental --seed 1 \
        --seconds 1 --trace 0

Every run is one process with one fresh Spark session on local[nproc],
as a scheduled ETL job runs, so the measured pipeline run is the first
of its session. Workloads:

- publish_incremental: a seeded re-publish of ~10 % of the bibs (half
  newer, half older, some holdings and items dropped), new bibs,
  malformed records and a delete manifest go into a warehouse restored
  from a base load through `plans.pipeline.run_publish_pipeline`.
  Merge/delete, commit and per-job scheduling dominate. The base load
  is one catalogue for every seed: the pipeline itself builds it once
  per checkout, in a child process, and it is cached under
  `.pipebench_build/`, keyed by a hash of the engine and benchmark
  sources.
- item_info_lookups: read-only; one closed-loop client runs
  READ_CYCLES cycles of the README lookups
  (`plans.item_info_domain`) on `item_info_view` over the base
  warehouse, with seeded keys. A run of this workload is one cycle.

After its pipeline run, publish_incremental reads the warehouse back
through the view too: LOOKUP_CYCLES cycles of the same lookups. Every
lookup loop runs more cycles while `--seconds` have not passed.

`--trace 0` prints the end-to-end metrics. `--trace 1` prints the
per-layer metrics; a layer the workload does not run reads 0. For
publish_incremental it warms the session up on a five-bib drop, then runs
the drop once through `run_publish_pipeline` and once as the traced
layer composition of `tracing.py`; for item_info_lookups it runs the
lookup cycles untraced, then traced. The spans stay in
`.pipebench_out/`. Every run checks its outputs against the
generator's truth and prints, before the result line, one `report`
line with host conditions, sample counts, the tail percentile used and
the names of failed checks.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "alma_publish_to_marc_spark"
BUILD_DIR = os.path.join(ROOT, ".pipebench_build")
WORK_ROOT = os.path.join(ROOT, ".pipebench_work")
OUT_DIR = os.path.join(ROOT, ".pipebench_out")

WORKLOADS = ("publish_incremental", "item_info_lookups")
PIPELINE_LAYERS = ("publish", "split", "extract", "upsert", "commit",
                   "counters")
# 200 bibs (~300 holdings, ~600 items with drop.py's fixture shape),
# against 1,500 bibs in the engine's sizing probe. Per-job overhead, not
# data volume, sets most of the run time here: on 4 cores one run took
# 60-80 s at 300 bibs and ~85 s at 1,500, and the 48 runs of a
# benchmark round must fit in 57 minutes.
N_BIBS = 200
N_FILES = 4
BASE_SEED = 0           # catalogue of the cached base warehouse
BASE_TS = datetime(2024, 6, 1)
INCREMENTAL_TS = datetime(2025, 9, 1)
PREP_REPEATS = 3
TABLES = ("bib_brief", "holding_brief", "item", "bib_part",
          "deleted_record", "errors")


# Every metric a run prints, with its unit: END_TO_END with --trace 0,
# PER_LAYER with --trace 1 (BENCHMARK.json lists the same names).
END_TO_END = {
    "run_s": "s", "records_per_s": "1/s", "first_run_s": "s",
    "lookup_p50_s": "s", "lookup_tail_s": "s", "lookups_per_s": "1/s",
    "setup_s": "s", "peak_rss_mb": "MB", "failed_ratio": "ratio",
}
PER_LAYER = {
    "publish.parse_s": "s", "publish.records": "count",
    "publish.files": "count", "publish.bytes_in": "bytes",
    "publish.jobs": "count",
    "split.s": "s", "split.python_s": "s", "split.bibs": "count",
    "split.holdings": "count", "split.items": "count",
    "split.errors": "count", "split.dedup_shuffle_bytes": "bytes",
    "split.jobs": "count",
    "extract.s": "s", "extract.jobs": "count",
    "upsert.s": "s", "upsert.merge_s": "s", "upsert.delete_s": "s",
    "upsert.rows_incoming": "count", "upsert.rows_inserted": "count",
    "upsert.rows_updated": "count", "upsert.rows_guarded": "count",
    "upsert.history_rows": "count", "upsert.jobs": "count",
    "commit.s": "s", "commit.bytes_written": "bytes",
    "commit.files_written": "count",
    "commit.rows_rewritten_per_row_changed": "ratio", "commit.jobs": "count",
    "counters.s": "s", "counters.jobs": "count",
    "view.s": "s", "view.jobs": "count", "view.shuffle_read_bytes": "bytes",
    "view.rows_scanned_per_row_returned": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.idle_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.python_s": "s",
    "spark.persisted_rdds": "count",
    "trace.untraced_s": "s", "trace.traced_s": "s", "trace.overhead_s": "s",
}


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]], trace: bool) -> str:
    """The last line of a run: every declared metric, with its unit."""
    declared = PER_LAYER if trace else END_TO_END
    if set(metrics) != set(declared):
        raise ValueError("metrics differ from the declared set: "
                         f"{sorted(set(metrics) ^ set(declared))}")
    for name, (_value, unit) in metrics.items():
        if unit != declared[name]:
            raise ValueError(f"{name}: unit {unit}, declared {declared[name]}")
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


# --- inputs -----------------------------------------------------------------
def _source_key() -> str:
    """Hash of everything the cached base warehouse depends on."""
    h = hashlib.sha256(f"{N_BIBS}/{N_FILES}/{BASE_SEED}/{BASE_TS}".encode())
    paths = [os.path.join(HERE, "drop.py"), os.path.join(HERE, "run.py")]
    for root, _dirs, names in os.walk(os.path.join(ROOT, PACKAGE)):
        paths += [os.path.join(root, n) for n in names if n.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _copytree(src: str, dst: str) -> None:
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)


def prepare(workload: str, seed: int, work: str, base_dir: str | None):
    """Generate the drop, write it, and lay out the starting warehouse.
    Returns (drop truth, corpus, landing dir, warehouse dir). The
    read-only workload gets the base catalogue's truth and warehouse,
    and no drop."""
    import drop as D

    landing = os.path.join(work, "landing")
    wh = os.path.join(work, "warehouse")
    shutil.rmtree(landing, ignore_errors=True)
    shutil.rmtree(wh, ignore_errors=True)
    corpus = D.Corpus(BASE_SEED, N_BIBS, N_FILES)
    _copytree(os.path.join(base_dir, "warehouse"), wh)
    if workload == "item_info_lookups":
        return corpus.initial_drop().truth, corpus, None, wh
    dr = corpus.incremental_drop(seed)
    dr.write(landing)
    return dr.truth, corpus, landing, wh


def ensure_base() -> tuple[str, float]:
    """The cached base warehouse for publish_incremental and
    item_info_lookups; built by a child process on first use. Returns
    (dir, build seconds)."""
    path = os.path.join(BUILD_DIR, "base-" + _source_key())
    if os.path.isdir(path):
        return path, 0.0
    t0 = time.time()
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    subprocess.run([sys.executable, os.path.abspath(__file__),
                    "--build-base", tmp], cwd=ROOT, check=True,
                   stdout=sys.stderr)
    os.replace(tmp, path)
    return path, time.time() - t0


# --- Spark --------------------------------------------------------------------
def start_session(work: str, event_dir: str | None = None):
    """The engine's session settings (session.get_spark) on local[nproc],
    with every scratch path inside the work directory."""
    from pyspark.sql import SparkSession

    cpus = os.cpu_count() or 1
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # no hsperfdata files in the system temp directory, from the driver
    # JVM or from spark-submit's launcher JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    b = (SparkSession.builder.appName("pipebench").master(f"local[{cpus}]")
         .config("spark.sql.shuffle.partitions", str(cpus))
         .config("spark.default.parallelism", str(cpus))
         .config("spark.driver.memory", "2g")
         .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.local.dir", tmp)
         # serial collector: with G1's adaptive heap sizing the peak RSS
         # of identical runs varied by 10-20 %
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tmp} -XX:+UseSerialGC")
         .config("spark.sql.warehouse.dir", os.path.join(work, "spark-warehouse")))
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_dir)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    from alma_publish_to_marc_spark.session import tune
    return tune(spark)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def location_frame(spark, corpus):
    return spark.createDataFrame(corpus.location_rows(),
                                 "id long, library_code string, code string")


def write_side_tables(corpus, wh: str) -> None:
    """The view's webhook-fed and dimension tables, written as parquet
    beside the pipeline's tables with pyarrow (no Spark jobs)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = corpus.side_rows()
    ts = pa.timestamp("us", tz="UTC")
    day = datetime(2024, 1, 1).timestamp()

    def put(name, columns: dict) -> None:
        os.makedirs(os.path.join(wh, name))
        table = pa.table({k: pa.array(v, type=t)
                          for k, (t, v) in columns.items()})
        pq.write_table(table, os.path.join(wh, name, "part-0.parquet"))

    locs = corpus.location_rows()
    put("location", {"id": (pa.int64(), [r[0] for r in locs]),
                     "library_code": (pa.string(), [r[1] for r in locs]),
                     "code": (pa.string(), [r[2] for r in locs])})
    put("code_table_value", {
        "code_table": (pa.string(), ["BaseStatus", "BaseStatus", "ItemPolicy"]),
        "code": (pa.string(), ["0", "1", "0"]),
        "description": (pa.string(), ["Item not in place", "Item in place",
                                      "Loanable"])})
    n = len(rows)
    put("item_base_status", {
        "pid": (pa.string(), [r["pid"] for r in rows]),
        "status_code": (pa.string(), [r["status"] for r in rows]),
        **{c: (pa.string(), [None] * n)
           for c in ("process_type", "process_status")},
        **{c: (ts, [None] * n)
           for c in ("renewal_date", "loan_date", "due_date")},
        "update_date_time": (ts, [datetime(2024, 5, 1)] * n)})
    put("item_data", {
        "pid": (pa.string(), [r["pid"] for r in rows]),
        "data": (pa.string(), [json.dumps({"holding_data": {
            "call_number_type": {"value": r["call_number_type"]}}})
            for r in rows])})
    put("item_temp_location", {
        "pid": (pa.string(), [r["pid"] for r in rows]),
        "temp_location_id": (pa.int64(), [r["temp_location_id"] for r in rows])})
    req = [(r, k) for r in rows for k in range(r["requests"])]
    when = [datetime.fromtimestamp(day + 86400 * k) for _r, k in req]
    put("request_event", {
        "request_id": (pa.string(), [f"r{r['pid']}-{k}" for r, k in req]),
        "pid": (pa.string(), [r["pid"] for r, _k in req]),
        "holding_id": (pa.string(), [r["holding_id"] for r, _k in req]),
        "mms_id": (pa.string(), [r["mms_id"] for r, _k in req]),
        "request_status": (pa.string(), ["HISTORY" if k % 3 == 2 else "ACTIVE"
                                         for _r, k in req]),
        "request_type": (pa.string(), ["HOLD"] * len(req)),
        "request_sub_type": (pa.string(), [None] * len(req)),
        "request_event": (pa.string(), ["CREATED"] * len(req)),
        "pickup_location_library": (pa.string(), ["SML"] * len(req)),
        "notification_date_time": (ts, when),
        "request_date": (ts, when)})


def item_info(spark, wh: str):
    """`item_info_view` over the warehouse. The pipeline's item table has
    no location ids: the permanent one comes from its holding, the
    temporary one from `item_temp_location`. Its `status_code` is
    dropped because `item_base_status` carries the status; keeping both
    makes the view's status join ambiguous. Its `mms_id` is kept as the
    pipeline writes it (see the known defect in CHANGES)."""
    from pyspark.sql import functions as F
    from alma_publish_to_marc_spark.plans import item_info_domain as V

    def read(name):
        return spark.read.parquet(os.path.join(wh, name))

    hb = read("holding_brief")
    item = (read("item").drop("status_code")
            .join(hb.select("holding_id",
                            F.col("location_id").alias("perm_location_id")),
                  "holding_id")
            .join(read("item_temp_location"), "pid", "left"))
    return V.item_info_view(item, read("item_base_status"), read("item_data"),
                            read("location"), hb, read("bib_brief"),
                            read("code_table_value"), read("request_event"))


# --- lookups --------------------------------------------------------------------
# One cycle of the closed loop: every README lookup, with point lookups
# by barcode (the circulation desk's query) as half of it, so that the
# median of a cycle is a barcode lookup whichever kind runs slowest.
LOOKUP_CYCLE = ("barcode", "location", "barcode", "call_number_type",
                "barcode", "mms_id")
# Untimed first lookups, checked: the first query of each shape plans
# the view's joins cold. mms_id is left out because it fails (see the
# known defect in CHANGES).
WARM_KINDS = ("barcode", "location", "call_number_type")
# A fixed count of cycles keeps the number of attempted operations, and
# so failed_ratio, independent of lookup speed while the cycles take
# longer than `--seconds`: two after a pipeline run (with one, the
# median of five lookups moved by ~20 % between seeds), three in a
# read-only run.
LOOKUP_CYCLES = 2
READ_CYCLES = 3


def lookup_cycle(rng: random.Random, view_items: list[dict],
                 kinds: tuple[str, ...] = LOOKUP_CYCLE) -> list[tuple]:
    """One cycle of lookups on random items, with expected answers."""
    by_loc: dict[tuple, int] = {}
    by_mms: dict[str, int] = {}
    for it in view_items:
        by_loc[(it["lib"], it["loc"])] = by_loc.get((it["lib"], it["loc"]), 0) + 1
        by_mms[it["mms_id"]] = by_mms.get(it["mms_id"], 0) + 1
    out = []
    for kind in kinds:
        it = rng.choice(view_items)
        if kind == "barcode":
            out.append((kind, it["barcode"], 1))
        elif kind == "location":
            key = (it["lib"], it["loc"])
            out.append((kind, key, by_loc[key]))
        elif kind == "call_number_type":
            out.append((kind, it["barcode"], it["call_number_type"]))
        else:
            out.append((kind, it["mms_id"], by_mms[it["mms_id"]]))
    return out


def run_lookup(view, kind: str, arg, expected) -> tuple[bool, int]:
    """Execute one lookup; returns (answer correct, rows returned)."""
    from alma_publish_to_marc_spark.plans import item_info_domain as V

    if kind == "barcode":
        rows = V.lookup_by_barcode(view, arg).collect()
        return len(rows) == expected, len(rows)
    if kind == "location":
        rows = V.items_in_location(view, *arg).collect()
        return len(rows) == expected, len(rows)
    if kind == "call_number_type":
        rows = V.call_number_type_from_json(
            V.lookup_by_barcode(view, arg)).collect()
        return ([r["call_number_type"] for r in rows] == [expected],
                len(rows))
    rows = V.lookup_by_mms_id(view, arg).collect()
    return len(rows) == expected, len(rows)


def lookups(view, view_items, seed: int, cycles: int, seconds: float = 0.0,
            on_op=None, kinds: tuple[str, ...] = LOOKUP_CYCLE) -> dict:
    """Closed loop, one client: `cycles` whole cycles, and more while
    `seconds` have not passed. A lookup fails when it raises or returns
    a wrong answer."""
    rng = random.Random(f"lookups-{seed}-{'-'.join(kinds)}")
    lat, wrong, errors, cycle_s = [], [], {}, []
    ops = failed = rows_returned = 0
    t0 = time.time()
    done = 0
    while done < cycles or time.time() - t0 < seconds:
        done += 1
        c0 = time.time()
        for kind, arg, expected in lookup_cycle(rng, view_items, kinds):
            ops += 1
            t = time.time()
            try:
                if on_op is None:
                    ok, n = run_lookup(view, kind, arg, expected)
                else:
                    with on_op(kind):
                        ok, n = run_lookup(view, kind, arg, expected)
            except Exception as e:  # a lookup error is a failed operation
                failed += 1
                name = getattr(e, "getErrorClass", lambda: None)() or type(e).__name__
                errors[f"{kind}: {name}"] = errors.get(f"{kind}: {name}", 0) + 1
                continue
            lat.append(time.time() - t)
            rows_returned += n
            if not ok:
                wrong.append([kind, str(arg), expected, n])
        cycle_s.append(time.time() - c0)
    return {"latencies": lat, "ops": ops, "failed": failed, "wrong": wrong,
            "errors": errors, "elapsed": time.time() - t0, "cycles": done,
            "cycle_s": cycle_s, "rows_returned": rows_returned}


def tail(latencies: list[float]) -> tuple[float, str]:
    """The highest of p50/p75/p90/p95/p99/p99.9 with at least ten
    samples above it; the maximum when there are fewer than 20."""
    xs = sorted(latencies)
    n = len(xs)
    for p in (99.9, 99, 95, 90, 75, 50):
        rank = math.ceil(p / 100 * n)             # nearest-rank percentile
        if n - rank >= 10:
            return xs[rank - 1], f"p{p:g}"
    return xs[-1], "max"


# --- checks -----------------------------------------------------------------------
def tally(checks: dict[str, bool], loops: list[dict]) -> tuple[int, int]:
    """(attempted, failed) operations of a run: every output check and
    every timed lookup. A lookup that raises or answers wrongly fails."""
    attempted = len(checks) + sum(lk["ops"] for lk in loops)
    failed = (sum(not ok for ok in checks.values())
              + sum(lk["failed"] + len(lk["wrong"]) for lk in loops))
    return attempted, failed


def warehouse_facts(spark, wh: str) -> dict:
    """Row counts, version counts and history rows of every table, in
    one query."""
    from pyspark.sql import functions as F

    parts = []
    for name in TABLES:
        df = spark.read.parquet(os.path.join(wh, name))
        parts.append(df.select(
            (F.concat(F.lit("deleted_record:"), F.col("record_type"))
             if name == "deleted_record" else F.lit(name)).alias("t"),
            (F.col("version") if "version" in df.columns
             else F.lit(None).cast("long")).alias("version"),
            (F.col("title").contains("Revised") if name == "bib_brief"
             else F.lit(False)).alias("revised")))
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    rows = union.groupBy("t").agg(
        F.count(F.lit(1)).alias("rows"),
        F.count(F.when(F.col("version") == 2, 1)).alias("v2"),
        F.count(F.when(F.col("version") > 2, 1)).alias("v3plus"),
        F.count(F.when(F.col("revised"), 1)).alias("revised")).collect()
    facts = {r["t"]: r.asDict() for r in rows}
    empty = {"rows": 0, "v2": 0, "v3plus": 0, "revised": 0}
    out = {name: facts.get(name, empty) for name in TABLES}
    out["deleted_record"] = {k.split(":", 1)[1]: v["rows"]
                             for k, v in facts.items()
                             if k.startswith("deleted_record:")}
    return out


def check_run(truth: dict, counters: dict, facts: dict) -> dict[str, bool]:
    """Output checks against the generator's truth."""
    want = truth["warehouse"]
    checks = {f"counter {k}": counters.get(k) == v
              for k, v in truth["counters"].items()}
    for name in ("bib_brief", "holding_brief", "item"):
        checks[f"{name} rows"] = facts[name]["rows"] == want[name]
        checks[f"{name} version=2 rows"] = (facts[name]["v2"]
                                            == want["version2"][name])
        checks[f"{name} no version>2"] = facts[name]["v3plus"] == 0
    checks["bib_part rows"] = facts["bib_part"]["rows"] == want["bib_part"]
    checks["errors rows"] = facts["errors"]["rows"] == want["errors"]
    hist = facts["deleted_record"]
    checks["deleted_record rows"] = sum(hist.values()) == want["deleted_record"]
    for kind, n in want.get("history", {}).items():
        checks[f"deleted_record {kind} rows"] = hist.get(kind, 0) == n
    if "revised_titles" in want:
        checks["revised titles"] = (facts["bib_brief"]["revised"]
                                    == want["revised_titles"])
    return checks


# --- runs ---------------------------------------------------------------------------
def build_base(dest: str) -> None:
    """Child-process entry: load the base catalogue through the pipeline."""
    import drop as D
    from alma_publish_to_marc_spark.plans import pipeline as PL

    corpus = D.Corpus(BASE_SEED, N_BIBS, N_FILES)
    dr = corpus.initial_drop()
    landing = os.path.join(dest, "landing")
    wh = os.path.join(dest, "warehouse")
    dr.write(landing)
    spark = start_session(os.path.join(dest, "work"))
    try:
        counters = PL.run_publish_pipeline(spark, landing, wh, BASE_TS,
                                           location_frame(spark, corpus))
        failed = {k: (counters.get(k), v)
                  for k, v in dr.truth["counters"].items()
                  if counters.get(k) != v}
        if failed:
            raise SystemExit(f"base load counters differ from truth: {failed}")
        write_side_tables(corpus, wh)
    finally:
        stop_session(spark)
    shutil.rmtree(os.path.join(dest, "work"), ignore_errors=True)
    shutil.rmtree(landing, ignore_errors=True)


def run_end_to_end(args, work: str, inputs: tuple, prep_s: float) -> dict:
    """publish_incremental, --trace 0: the session's first pipeline run,
    then LOOKUP_CYCLES lookup cycles over the warehouse it wrote."""
    from alma_publish_to_marc_spark.plans import pipeline as PL

    truth, corpus, landing, wh = inputs
    t = time.time()
    spark = start_session(work)
    session_s = time.time() - t
    try:
        t = time.time()
        counters = PL.run_publish_pipeline(spark, landing, wh, INCREMENTAL_TS,
                                           location_frame(spark, corpus))
        run_s = time.time() - t
        checks = check_run(truth, counters, warehouse_facts(spark, wh))
        view = item_info(spark, wh)
        warm = lookups(view, truth["view_items"], args.seed, 1,
                       kinds=WARM_KINDS)
        lk = lookups(view, truth["view_items"], args.seed, LOOKUP_CYCLES,
                     args.seconds)
    finally:
        stop_session(spark)
    checks["warm-up lookup"] = not (warm["failed"] or warm["wrong"])
    return _end_to_end(
        checks, lk, run=(run_s, 1, counters["cnt_records"] / run_s,
                         session_s + run_s),
        setup_s=session_s + prep_s,
        detail={"session_s": session_s, "prep_s_median": prep_s,
                "counters": counters})


def run_read(args, work: str, inputs: tuple, prep_s: float) -> dict:
    """item_info_lookups, --trace 0: READ_CYCLES lookup cycles over the
    base warehouse after the cold lookups. A run of this workload is one
    cycle: `run_s` is a cycle's median wall time, `records_per_s` the
    view's item rows (its input) divided by `run_s`, and `first_run_s`
    the session start, the view, the cold lookups and the first cycle."""
    truth, _corpus, _landing, wh = inputs
    t = time.time()
    spark = start_session(work)
    session_s = time.time() - t
    try:
        t = time.time()
        view = item_info(spark, wh)
        warm = lookups(view, truth["view_items"], args.seed, 1,
                       kinds=WARM_KINDS)
        cold_s = time.time() - t
        lk = lookups(view, truth["view_items"], args.seed, READ_CYCLES,
                     args.seconds)
    finally:
        stop_session(spark)
    checks = {"warm-up lookup": not (warm["failed"] or warm["wrong"])}
    run_s = statistics.median(lk["cycle_s"])
    return _end_to_end(
        checks, lk, run=(run_s, len(lk["cycle_s"]),
                         len(truth["view_items"]) / run_s,
                         session_s + cold_s + lk["cycle_s"][0]),
        setup_s=session_s + prep_s,
        detail={"session_s": session_s, "prep_s_median": prep_s,
                "cold_lookup_s": cold_s, "cycle_s": lk["cycle_s"]})


def _end_to_end(checks: dict[str, bool], lk: dict, run: tuple, setup_s: float,
                detail: dict) -> dict:
    """The --trace 0 result from a run's (run_s, its sample count,
    records_per_s, first_run_s), its set-up time, its checks and its
    lookup loop."""
    run_s, run_samples, records_per_s, first_run_s = run
    tail_s, tail_label = tail(lk["latencies"])
    attempted, failed = tally(checks, [lk])
    metrics = {
        "run_s": (run_s, "s"),
        "records_per_s": (records_per_s, "1/s"),
        "first_run_s": (first_run_s, "s"),
        "lookup_p50_s": (statistics.median(lk["latencies"]), "s"),
        "lookup_tail_s": (tail_s, "s"),
        "lookups_per_s": (lk["ops"] / lk["elapsed"], "1/s"),
        "setup_s": (setup_s, "s"),
        "failed_ratio": (failed / attempted, "ratio"),
    }
    samples = {"run_s": run_samples, "records_per_s": 1, "first_run_s": 1,
               "lookup_p50_s": len(lk["latencies"]),
               "lookup_tail_s": len(lk["latencies"]),
               "lookups_per_s": lk["ops"], "setup_s": 1,
               "failed_ratio": attempted}
    detail.update({"lookup_tail_percentile": tail_label,
                   "lookup_cycles": lk["cycles"], "lookup_errors": lk["errors"],
                   "wrong_lookups": lk["wrong"]})
    return {"metrics": metrics, "samples": samples, "checks": checks,
            "loops": [lk], "attempted": attempted, "failed": failed,
            "detail": detail}


def run_traced(args, work: str, inputs: tuple, prep_s: float) -> dict:
    import drop as D
    import tracing as T
    from alma_publish_to_marc_spark.plans import pipeline as PL

    truth, corpus, landing, wh0 = inputs
    items = truth["view_items"]
    publish = args.workload == "publish_incremental"
    start = os.path.join(work, "start")          # pristine starting state
    _copytree(wh0, start)
    plain_wh = os.path.join(work, "untraced")
    traced_wh = os.path.join(work, "traced")
    os.makedirs(OUT_DIR, exist_ok=True)
    stem = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}")
    event_dir = stem + "-events"
    shutil.rmtree(event_dir, ignore_errors=True)
    spark = start_session(work, event_dir)
    sc = spark.sparkContext
    checks: dict[str, bool] = {}
    loops: list[dict] = []
    res = None
    try:
        if publish:
            loc = location_frame(spark, corpus)
            # warm-up: a five-bib drop pays the session's JIT and Python
            # worker start-up, so the untraced and traced runs compare warm
            tiny = os.path.join(work, "warmup")
            D.Corpus(args.seed, 5, 1).initial_drop().write(tiny)
            PL.run_publish_pipeline(spark, tiny, plain_wh, BASE_TS, loc)
            # a run leaves its split rows persisted (and a later run over
            # the same drop would reuse them): start each measured run clean
            spark.catalog.clearCache()
            _copytree(start, plain_wh)
            with T.job_group(spark, "bench-untraced"):
                t = time.time()
                counters = PL.run_publish_pipeline(spark, landing, plain_wh,
                                                   INCREMENTAL_TS, loc)
                untraced = (t, time.time())
            persisted = len(sc._jsc.getPersistentRDDs())
            checks.update(check_run(truth, counters,
                                    warehouse_facts(spark, plain_wh)))
            # the traced layer composition, from the same starting state
            _copytree(start, traced_wh)
            spark.catalog.clearCache()
            tr = T.Tracer(spark)
            res = T.traced_publish(spark, tr, landing, traced_wh,
                                   INCREMENTAL_TS, loc)
            tr.release()
            checks.update({f"traced {k}": v for k, v in check_run(
                truth, res["counters"], warehouse_facts(spark, traced_wh)).items()})
            a = T.table_digest(spark, plain_wh, TABLES)
            b = T.table_digest(spark, traced_wh, TABLES)
            for name in TABLES:
                checks[f"traced {name} equals untraced"] = a[name] == b[name]
            cycles = LOOKUP_CYCLES
        else:
            # read-only: the same lookups untraced, traced, and untraced
            # again, after the cold lookups
            traced_wh, cycles = start, READ_CYCLES
            warm = lookups(item_info(spark, start), items, args.seed, 1,
                           kinds=WARM_KINDS)
            checks["warm-up lookup"] = not (warm["failed"] or warm["wrong"])
            with T.job_group(spark, "bench-untraced"):
                t = time.time()
                loops.append(lookups(item_info(spark, start), items,
                                     args.seed, cycles))
                untraced = (t, time.time())
            persisted = len(sc._jsc.getPersistentRDDs())
            tr = T.Tracer(spark)
        # the view layer over the traced warehouse
        with tr.span("view"):
            view = item_info(spark, traced_wh)
            lk = lookups(view, items, args.seed, cycles,
                         on_op=lambda kind: tr.span(f"view.{kind}"))
        loops.append(lk)
        untraced_s = untraced[1] - untraced[0]
        if not publish:
            # lookups still get faster from cycle to cycle as the JVM
            # warms up, so the untraced time is the mean of one loop
            # before the traced one and one after it
            t = time.time()
            loops.append(lookups(item_info(spark, start), items, args.seed,
                                 cycles))
            untraced_s = (untraced_s + time.time() - t) / 2
        app_id = sc.applicationId
    finally:
        stop_session(spark)
    spans_path = stem + "-spans.json"
    tr.write(spans_path)
    log = T.EventLog(event_dir, app_id)
    shutil.rmtree(event_dir)      # 60-200 MB, mostly SQL plan text

    by_id = {s["id"]: s for s in tr.spans}
    layer: dict[str, dict] = {}
    sub: dict[str, float] = {}
    for s in tr.spans:
        d = layer.setdefault(s["layer"], {"s": 0.0, "jobs": 0, "groups": []})
        parent = by_id.get(s["parent"])
        if parent is None or parent["layer"] != s["layer"]:
            d["s"] += s["end"] - s["start"]         # outermost span of the layer
        d["jobs"] += len(s["jobs"])
        d["groups"].append(s["id"])
        sub[s["name"]] = sub.get(s["name"], 0.0) + s["end"] - s["start"]
    # a layer the workload does not run reads 0
    for name in PIPELINE_LAYERS:
        layer.setdefault(name, {"s": 0.0, "jobs": 0, "groups": []})
    if res is None:
        res = {"records": 0, "counters": {"cnt_files": 0},
               "split": dict.fromkeys(("bibs", "holdings", "items", "errors"), 0),
               "accounting": dict.fromkeys(
                   ("rows_incoming", "rows_inserted", "rows_updated",
                    "rows_guarded", "history_rows", "rows_written"), 0)}

    def tasks(name):
        return log.for_groups(layer[name]["groups"])

    commit = next((s for s in tr.spans if s["name"] == "commit"),
                  {"bytes_written": 0, "files_written": 0})
    acc = res["accounting"]
    split = res["split"]
    changed = acc["rows_inserted"] + acc["rows_updated"] + acc["history_rows"]
    view_tasks = tasks("view")
    u0, u1 = untraced
    untraced_tasks = log.for_groups(["bench-untraced"])
    traced_s = (sum(layer[name]["s"] for name in PIPELINE_LAYERS) if publish
                else layer["view"]["s"])
    bytes_in = (sum(os.path.getsize(os.path.join(landing, n))
                    for n in os.listdir(landing) if "delete" not in n)
                if publish else 0)
    metrics = {
        "publish.parse_s": (layer["publish"]["s"], "s"),
        "publish.records": (res["records"], "count"),
        "publish.files": (res["counters"]["cnt_files"], "count"),
        "publish.bytes_in": (bytes_in, "bytes"),
        "publish.jobs": (layer["publish"]["jobs"], "count"),
        "split.s": (layer["split"]["s"], "s"),
        "split.python_s": (sum(x["python_s"] for x in tasks("split")), "s"),
        "split.bibs": (split["bibs"], "count"),
        "split.holdings": (split["holdings"], "count"),
        "split.items": (split["items"], "count"),
        "split.errors": (split["errors"], "count"),
        "split.dedup_shuffle_bytes": (sum(x["shuffle_write"] for x in tasks("split")), "bytes"),
        "split.jobs": (layer["split"]["jobs"], "count"),
        "extract.s": (layer["extract"]["s"], "s"),
        "extract.jobs": (layer["extract"]["jobs"], "count"),
        "upsert.s": (layer["upsert"]["s"], "s"),
        "upsert.merge_s": (sub.get("upsert.merge", 0.0), "s"),
        "upsert.delete_s": (sub.get("upsert.delete", 0.0), "s"),
        "upsert.rows_incoming": (acc["rows_incoming"], "count"),
        "upsert.rows_inserted": (acc["rows_inserted"], "count"),
        "upsert.rows_updated": (acc["rows_updated"], "count"),
        "upsert.rows_guarded": (acc["rows_guarded"], "count"),
        "upsert.history_rows": (acc["history_rows"], "count"),
        "upsert.jobs": (layer["upsert"]["jobs"], "count"),
        "commit.s": (layer["commit"]["s"], "s"),
        "commit.bytes_written": (commit["bytes_written"], "bytes"),
        "commit.files_written": (commit["files_written"], "count"),
        "commit.rows_rewritten_per_row_changed": (
            acc["rows_written"] / max(changed, 1), "ratio"),
        "commit.jobs": (layer["commit"]["jobs"], "count"),
        "counters.s": (layer["counters"]["s"], "s"),
        "counters.jobs": (layer["counters"]["jobs"], "count"),
        "view.s": (layer["view"]["s"], "s"),
        "view.jobs": (layer["view"]["jobs"], "count"),
        "view.shuffle_read_bytes": (sum(x["shuffle_read"] for x in view_tasks), "bytes"),
        "view.rows_scanned_per_row_returned": (
            sum(x["input_records"] for x in view_tasks)
            / max(lk["rows_returned"], 1), "ratio"),
        "spark.jobs": (len(log.jobs.get("bench-untraced", ())), "count"),
        "spark.stages": (sum(1 for g in log.stage_group.values()
                             if g == "bench-untraced"), "count"),
        "spark.tasks": (len(untraced_tasks), "count"),
        "spark.idle_s": (u1 - u0 - T.busy_union(untraced_tasks, u0, u1), "s"),
        "spark.executor_cpu_s": (sum(x["cpu_s"] for x in untraced_tasks), "s"),
        "spark.gc_s": (sum(x["gc_s"] for x in untraced_tasks), "s"),
        "spark.python_s": (sum(x["python_s"] for x in untraced_tasks), "s"),
        "spark.persisted_rdds": (persisted, "count"),
        "trace.untraced_s": (untraced_s, "s"),
        "trace.traced_s": (traced_s, "s"),
        "trace.overhead_s": (traced_s - untraced_s, "s"),
    }
    attempted, failed = tally(checks, loops)
    return {"metrics": metrics, "samples": {}, "checks": checks,
            "loops": loops, "attempted": attempted, "failed": failed,
            "detail": {"spans": os.path.relpath(spans_path, ROOT),
                       "layer_share_of_traced_s": {
                           name: round(layer[name]["s"] / traced_s, 3)
                           for name in PIPELINE_LAYERS} if publish else {},
                       "lookup_errors": lk["errors"],
                       "wrong_lookups": lk["wrong"]}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-base", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"pipebench: the engine package {PACKAGE}/ is not beside "
              f"{os.path.relpath(HERE, os.getcwd())}/; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    if args.build_base:
        build_base(args.build_base)
        return 0
    if not args.workload:
        ap.error("--workload is required")

    from host import HostMeter, PeakRss

    # every workload builds the cache, so whichever runs first in a fresh
    # checkout pays the build; its child JVM is outside the meters
    base_dir, build_s = ensure_base()
    rss = PeakRss().start()
    meter = HostMeter()
    meter.start()
    work = os.path.join(WORK_ROOT, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        preps = []
        for _ in range(PREP_REPEATS):
            t = time.time()
            inputs = prepare(args.workload, args.seed, work, base_dir)
            preps.append(time.time() - t)
        runner = (run_traced if args.trace
                  else run_end_to_end if args.workload == "publish_incremental"
                  else run_read)
        out = runner(args, work, inputs, statistics.median(preps))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        host = meter.stop()
        peak_mb = rss.stop()
    metrics = out["metrics"]
    if not args.trace:
        metrics["peak_rss_mb"] = (peak_mb, "MB")
        out["samples"]["peak_rss_mb"] = 1
    correct = (all(out["checks"].values())
               and not any(lk["wrong"] for lk in out["loops"]))
    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "host": host, "build_s": build_s,
              "samples": out["samples"], "detail": out["detail"],
              "failed_checks": sorted(k for k, v in out["checks"].items() if not v),
              "checks": len(out["checks"])}
    print(json.dumps({"report": report}, default=str))
    print(result_line(correct, out["attempted"], out["failed"], metrics,
                      bool(args.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
