"""Flight-price ETL benchmark.

    python3 flightbench/run.py --workload daily_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates a seeded parquet lake under
`.bench_work/`, drives the engine only through its public surface
(`sources.Extractor`, `plans.domanda.run_pipeline` / `load_output`,
`sinks.VersionedTable`) on `local[<cores>]`, one client in a closed loop,
checks every operation against an oracle that does not run through the
engine, and prints one JSON line last. See flightbench/README.md for the
workloads, metrics and how the numbers were tuned.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import lake  # noqa: E402
import probes  # noqa: E402
from oracle import Oracle, same_rows  # noqa: E402

WORKLOADS = ("daily_batch", "analyst_reads")
SPINE_ROWS = {"daily_batch": 10_000, "analyst_reads": 50_000}
DELTA_SHARE = 0.01  # share of the spine one upsert re-crawls
NEW_KEYS = 40  # itineraries one upsert adds
# tail = highest percentile with >= 10 samples beyond it at the sample
# count a run of `run_seconds` gets (README.md, "Tail percentile")
TAIL_PCT = {"daily_batch": 50.0, "analyst_reads": 85.0}
# measured ops per run at the least, however short --seconds is
MIN_OPS = {"daily_batch": 1, "analyst_reads": 80}
BLOCK = 20  # queries per block of the analyst mix
QUERY_MIX = (("point", 0.70), ("cheapest", 0.20), ("spread", 0.10))
WARMUP_QUERIES = 30

PER_LAYER = [
    ("plans.build_ms", "ms"), ("sources.extract_ms", "ms"), ("sources.scan_exec_ms", "ms"),
    ("sources.input_bytes", "bytes"), ("sources.keep_ratio", "ratio"), ("cleaning.exec_ms", "ms"),
    ("joins.exec_ms", "ms"), ("joins.fanout", "ratio"), ("windows.exec_ms", "ms"),
    ("windows.keep_ratio", "ratio"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("sinks.write_ms", "ms"), ("sinks.bytes_written", "bytes"),
    ("sinks.files_written", "count"), ("sinks.write_amp", "ratio"), ("sinks.compact_ms", "ms"),
    ("sinks.read_ms", "ms"), ("reads.exec_ms", "ms"), ("sinks.segments_per_version", "count"),
    ("reads.rows_scanned_per_row_returned", "ratio"), ("sinks.space_amp", "ratio"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("trace.op_overhead_ms", "ms"),
]


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolation percentile; pct=50 is the median."""
    import numpy as np

    return float(np.percentile(values, pct))


def lake_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, n)) for n in os.listdir(path))


def lake_rows_scanned(path: str) -> int:
    """Rows the six extracts scan: eztravel is read by both of its splits."""
    import pyarrow.parquet as pq

    n = 0
    for key, name in lake.TABLES.items():
        rows = pq.ParquetFile(os.path.join(path, f"{name}.parquet")).metadata.num_rows
        n += rows * (2 if key == "eztravel" else 1)
    return n


def generate(workload: str, seed: int, work: str):
    plan = lake.Plan.build(seed, SPINE_ROWS[workload])
    if workload == "daily_batch":
        return plan.write_base(os.path.join(work, "lake"), seed)
    return (plan.write_fares(os.path.join(work, "fares0.parquet"), seed, 0),
            plan.write_fares(os.path.join(work, "fares1.parquet"), seed, 1, DELTA_SHARE, NEW_KEYS))


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.tracer = probes.Tracer(bool(args.trace))
        self.layer: dict[str, list[float]] = {name: [] for name, _ in PER_LAYER}
        self.attempted = 0
        self.failed = 0
        self.oracle = Oracle(os.path.join(work, "duckdb"))
        self.phases: dict[str, float] = {}  # set-up breakdown, printed only
        self.warmup_lat: list[float] = []
        self.ticks0 = probes.cpu_ticks()

    # ------------------------------------------------------ bookkeeping
    def record(self, name: str, value: float) -> None:
        self.layer[name].append(float(value))

    def check(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"CHECK FAILED {what}: {'; '.join(problems[:5])}", file=sys.stderr)

    def run_op(self, what: str, fn) -> float:
        """One checked operation returning its latency in ms; an exception
        counts it as failed, with the time it took to fail."""
        t0 = time.perf_counter()
        try:
            return fn()
        except Exception as e:  # an engine failure is a failed op, not a crash
            self.check(what, [f"{type(e).__name__}: {e}"])
            return (time.perf_counter() - t0) * 1e3

    # ------------------------------------------------------------ inputs
    def generate(self):
        """Write this run's inputs in a child process, so the generator's
        memory stays out of the client's peak RSS; returns the expected
        output. A plain subprocess rather than multiprocessing, whose
        resource tracker would outlive this process."""
        t = time.perf_counter()
        out = os.path.join(self.work, "expected.pickle")
        child = (f"import pickle, sys; sys.path.insert(0, {HERE!r}); import run; "
                 f"pickle.dump(run.generate({self.args.workload!r}, {self.args.seed!r}, {self.work!r}), "
                 f"open({out!r}, 'wb'))")
        subprocess.run([sys.executable, "-c", child], check=True)
        with open(out, "rb") as f:
            expected = pickle.load(f)
        self.gen_s = time.perf_counter() - t
        return expected

    # ------------------------------------------------------------ setup
    def start(self) -> None:
        """Imports, session start (timed as part of set-up)."""
        from domanda_etl_spark.plans import domanda
        from domanda_etl_spark.session import get_spark
        from domanda_etl_spark.sinks.versioned import VersionedTable
        from domanda_etl_spark.sources import Extractor

        self.domanda, self.VersionedTable, self.Extractor = domanda, VersionedTable, Extractor
        tmp = os.path.join(self.work, "tmp")
        java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
        cores = len(os.sched_getaffinity(0))
        self.spark = get_spark(
            app_name="flightbench",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf={
                "spark.driver.memory": "1g",
                "spark.driver.extraJavaOptions": java_opts,
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.host": "127.0.0.1",
                "spark.driver.bindAddress": "127.0.0.1",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.counters = probes.SparkCounters(self.spark)
        self.jvm_pid = probes.jvm_pid(self.spark)
        self.phases["session_s"] = time.perf_counter() - self.t_setup

    def stop(self) -> None:
        """Stop the session and the JVM it launched, and wait for the JVM
        to end, also when the session never finished starting."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        try:
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
        finally:
            self.oracle.close()
            if gateway is not None:
                proc = gateway.proc
                try:
                    gateway.shutdown()
                finally:
                    if proc is not None:
                        proc.stdin.close()
                        try:
                            proc.wait(timeout=60)
                        except subprocess.TimeoutExpired:
                            proc.kill()
                            proc.wait()

    # ---------------------------------------------------- pipeline parts
    def extract(self, lake_dir: str) -> list:
        ex = self.Extractor(self.spark, lake_dir, lake.CUTOFF)
        return [ex.extract_cola_data(), ex.extract_set_data(), ex.extract_lion_data(),
                ex.extract_eztravel_data(), ex.extract_foreign_supplier_eztravel_data(),
                ex.extract_rich_data()]

    def pipeline(self, lake_dir: str):
        with self.tracer.span("sources.extract"):
            frames = self.extract(lake_dir)
        with self.tracer.span("plans.build"):
            return self.domanda.run_pipeline(*frames, now_epoch=lake.NOW)

    def prefixes(self, lake_dir: str) -> float:
        """Traced runs only: materialize each stage prefix with a noop
        write (extract, clean, unify, dedup); a layer's exec time is the
        difference between consecutive prefixes. Returns the full-DAG
        (dedup) prefix time in ms."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        d = self.domanda

        def materialize(name: str, frames: list) -> tuple[float, list[int], dict]:
            self.counters.group(name)
            obs = [Observation() for _ in frames]
            t0 = time.perf_counter()
            with self.tracer.span(name):
                for o, f in zip(obs, frames):
                    f.observe(o, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
            ms = (time.perf_counter() - t0) * 1e3
            return ms, [o.get["n"] for o in obs], self.counters.collect(name)

        frames = self.extract(lake_dir)
        p1, kept, scan = materialize("prefix.extract", frames)
        payload = d.SUPPLIER_PAYLOADS
        cleaned = [d.clean_cola(frames[0], now_epoch=lake.NOW)] + [
            d.clean_supplier(f, "票面價格", "稅金", *payload[k])
            for f, k in zip(frames[1:], ("set", "lion", "eztravel", "f_eztravel", "rich"))
        ]
        p2, clean_rows, _ = materialize("prefix.clean", cleaned)
        unified = d.unify(*cleaned)
        p3, (unified_rows,), _ = materialize("prefix.unify", [unified])
        p4, (dedup_rows,), _ = materialize("prefix.dedup", [d.dedup_latest(unified)])
        self.counters.group("count.enrich")
        joined_rows = d.join_price_and_tax(*cleaned).count()
        self.record("sources.scan_exec_ms", p1)
        self.record("cleaning.exec_ms", p2 - p1)
        self.record("joins.exec_ms", p3 - p2)
        self.record("windows.exec_ms", p4 - p3)
        self.record("sources.input_bytes", scan["input_bytes"])
        self.record("sources.keep_ratio", sum(kept) / lake_rows_scanned(lake_dir))
        self.record("joins.fanout", joined_rows / max(1, clean_rows[0]))
        self.record("windows.keep_ratio", dedup_rows / max(1, unified_rows))
        return p4

    # ---------------------------------------------------------- counters
    def spark_metrics(self, group: str) -> dict:
        c = self.counters.collect(group)
        for k in ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes"):
            self.record(f"spark.{k}", c[k])
        return c

    def sink_metrics(self, table_path: str, version: int, input_bytes: int, write_ms: float) -> None:
        written, files = probes.segment_written(table_path, version)
        self.record("sinks.bytes_written", written)
        self.record("sinks.files_written", files)
        self.record("sinks.write_amp", written / input_bytes)
        self.record("sinks.write_ms", write_ms)
        layout = probes.sink_layout(table_path)
        self.record("sinks.segments_per_version", layout["segments_per_version"])
        self.record("sinks.space_amp", layout["space_amp"])


def daily_batch(b: Bench, seconds: float) -> list[float]:
    """Repeated full refreshes: six extracts -> run_pipeline -> load_output
    (overwrite + S9 verify). Returns measured op latencies in ms."""
    plan = lake.Plan.build(b.args.seed, SPINE_ROWS["daily_batch"])
    lake_dir = os.path.join(b.work, "lake")
    expected = b.generate()
    totals = expected.totals()
    input_bytes = lake_bytes(lake_dir)
    # S9 verification row: an itinerary the model says is in the output
    itin = expected.itin[expected.fields["rows"] > 0][0]
    verify_row = plan.cat.lookup_key(itin)
    table_path = os.path.join(b.work, "table")

    b.t_setup = time.perf_counter()
    b.start()
    table = b.VersionedTable(table_path)

    def op(i: int, traced: bool) -> float | None:
        b.tracer.op = i if traced else None
        group = f"op{i}"
        b.counters.group(group)
        t0 = time.perf_counter()
        with b.tracer.span("op"):
            df = b.pipeline(lake_dir)
            with b.tracer.span("sinks.load"):
                version, _ = b.domanda.load_output(df, table, verify_row=verify_row)
        ms = (time.perf_counter() - t0) * 1e3
        b.check(f"daily_batch op {i}", b.oracle.batch_problems(probes.version_files(table_path, version), totals))
        if traced:
            b.record("plans.build_ms", b.tracer.ms("plans.build", i))
            b.record("sources.extract_ms", b.tracer.ms("sources.extract", i))
            dag_ms = b.prefixes(lake_dir)
            b.spark_metrics(group)
            # the sink's own share: the load minus executing the whole DAG
            b.sink_metrics(table_path, version, input_bytes, b.tracer.ms("sinks.load", i) - dag_ms)
        return ms

    # warm-up: the cold first op (evidence/README.md says why one)
    b.warmup_lat = [b.run_op("daily_batch warm-up", lambda: op(0, False))]
    b.setup_s = time.perf_counter() - b.t_setup

    lat = []
    i = 1
    while sum(lat) < seconds * 1e3 or len(lat) < MIN_OPS["daily_batch"]:
        lat.append(b.run_op(f"daily_batch op {i}", lambda: op(i, False)))
        i += 1
    if b.args.trace:
        # bracketed by untraced ops, so warm-up drift cancels in the overhead
        traced = b.run_op(f"daily_batch traced op {i}", lambda: op(i, True))
        after = b.run_op(f"daily_batch op {i + 1}", lambda: op(i + 1, False))
        b.record("trace.op_overhead_ms", traced - (lat[-1] + after) / 2)
    return lat


READ_COLS = (
    "departure_flight_number_1, departure_date, return_date, final_price, ticket_price, gds_type, "
    + ", ".join(lake.PRICE_COL[s] for s in lake.SUPPLIERS)
)
QUERIED_COLS = READ_COLS + ", departure_airport_1, departure_arrival_airport_1"


def query_sql(kind: str, q: dict) -> str:
    """SQL over `{t}`; the same text runs on Spark and on DuckDB."""
    if kind == "point":
        return (f"SELECT {READ_COLS} FROM {{t}} WHERE departure_flight_number_1 = '{q['flight']}' "
                f"AND departure_date = '{q['date']}'")
    if kind == "cheapest":
        offers = " UNION ALL ".join(
            f"SELECT departure_airport_1 AS origin, departure_arrival_airport_1 AS dest, "
            f"'{s}' AS supplier, {lake.PRICE_COL[s]} AS price FROM {{t}} "
            f"WHERE departure_date BETWEEN '{q['from']}' AND '{q['to']}'"
            for s in lake.SUPPLIERS
        )
        return (
            f"WITH o AS ({offers}) SELECT origin, dest, supplier, price FROM ("
            "SELECT origin, dest, supplier, price, row_number() OVER "
            "(PARTITION BY origin, dest ORDER BY price, supplier) AS rn FROM o WHERE price IS NOT NULL"
            ") r WHERE rn = 1"
        )
    spread = ", ".join(
        f"count({lake.PRICE_COL[s]}), max({lake.PRICE_COL[s]}) - min({lake.PRICE_COL[s]})"
        for s in lake.SUPPLIERS
    )
    return (f"SELECT gds_type, count(*), sum(final_price), max(final_price) - min(final_price), "
            f"{spread} FROM {{t}} GROUP BY gds_type")


def query_stream(seed: int, plan: "lake.Plan", stored: "lake.TableModel"):
    """Endless seeded query mix in blocks of BLOCK=20, so every run sees the
    same composition: 14 point lookups (a tenth of them misses), 4
    cheapest-supplier-per-route over a 14-day range, 2 full-table
    price-spread stats; one point lookup per block reads the previous
    version (time travel). The seed orders each block and picks the
    parameters."""
    import numpy as np

    rng = lake.rng_for(seed, 9)
    present = np.flatnonzero(stored.fields["rows"] > 0)
    block = [k for k, share in QUERY_MIX for _ in range(round(share * BLOCK))]
    while True:
        order = [block[j] for j in rng.permutation(len(block))]
        travel = order.index("point")
        for j, kind in enumerate(order):
            q: dict = {"time_travel": j == travel}
            if kind == "point":
                itin = present[rng.integers(len(present))] if rng.random() < 0.9 else rng.integers(plan.cat.size)
                key = plan.cat.lookup_key(int(itin))
                q["flight"], q["date"] = key["departure_flight_number_1"], key["departure_date"]
            elif kind == "cheapest":
                d0 = int(rng.integers(0, lake.DAYS - 14))
                q["from"], q["to"] = lake.day_string(d0), lake.day_string(d0 + 13)
            yield kind, q


def analyst_reads(b: Bench, seconds: float) -> list[float]:
    """Read-only SQL over VersionedTable.read of a fares table in the
    pipeline's output schema. Set-up writes it through the sink: an
    overwrite, then one merge_upsert of a seeded delta; queries read the
    merged version and time-travel to the first. The run ends with a
    compact and a restore."""
    seed = b.args.seed
    plan = lake.Plan.build(seed, SPINE_ROWS["analyst_reads"])
    base_path, delta_path = os.path.join(b.work, "fares0.parquet"), os.path.join(b.work, "fares1.parquet")
    base, delta = b.generate()
    table_path = os.path.join(b.work, "table")
    model = lake.TableModel(plan.cat.size)

    b.t_setup = time.perf_counter()
    b.start()
    table = b.VersionedTable(table_path)

    def totals_check(what: str, version: int) -> None:
        got = b.oracle.totals(probes.version_files(table_path, version))
        exp = model.totals()
        b.check(what, [f"{k}: expected {exp[k]}, got {got[k]}" for k in exp if got[k] != exp[k]])

    # preload: overwrite, then one upsert step keyed by itinerary
    b.tracer.op = "load"
    v0 = table.overwrite(b.spark.read.parquet(base_path))
    model.overwrite(base)
    totals_check("analyst_reads load", v0)
    b.tracer.op = "upsert"
    t0 = time.perf_counter()
    with b.tracer.span("sinks.merge"):
        v1 = table.merge_upsert(b.spark, b.spark.read.parquet(delta_path), lake.MERGE_KEYS)
    b.phases["upsert_s"] = time.perf_counter() - t0
    model.merge(delta)
    totals_check("analyst_reads upsert", v1)
    if b.args.trace:
        # the write-side sink metrics of this workload are its set-up upsert
        b.sink_metrics(table_path, v1, os.path.getsize(delta_path), b.tracer.ms("sinks.merge", "upsert"))
    queries = query_stream(seed, plan, model)
    for v in (v0, v1):
        b.oracle.load(f"v{v}", probes.version_files(table_path, v), QUERIED_COLS)

    def run_query(i: int, kind: str, q: dict, traced: bool) -> float:
        version = v0 if q["time_travel"] else None
        group = f"q{i}"
        b.tracer.op = i if traced else None
        if traced:
            b.counters.group(group)
        t0 = time.perf_counter()
        with b.tracer.span("sinks.read"):
            table.read(b.spark, version).createOrReplaceTempView("fares")
        with b.tracer.span("reads.exec"):
            rows = b.spark.sql(query_sql(kind, q).format(t="fares")).collect()
        ms = (time.perf_counter() - t0) * 1e3
        want = b.oracle.query(query_sql(kind, q), f"v{v0 if q['time_travel'] else v1}")
        b.check(f"analyst_reads q{i} {kind}", [] if same_rows(rows, want) else [f"{kind} {q}: engine {rows[:3]} != duckdb {want[:3]}"])
        if traced:
            c = b.spark_metrics(group)
            b.record("sinks.read_ms", b.tracer.ms("sinks.read", i))
            b.record("reads.exec_ms", b.tracer.ms("reads.exec", i))
            b.record("reads.rows_scanned_per_row_returned", c["input_records"] / max(1, len(rows)))
        return ms

    # warm-up: a fixed number of queries (evidence/README.md says why)
    for i in range(WARMUP_QUERIES):
        kind, q = next(queries)
        b.warmup_lat.append(b.run_op(f"analyst_reads warm-up {i}", lambda: run_query(-2 - i, kind, q, False)))
    b.setup_s = time.perf_counter() - b.t_setup

    lat, traced_lat = [], []
    i = 0
    # whole blocks only, so every run measures the same query composition
    while sum(lat) < seconds * 1e3 or len(lat) < MIN_OPS["analyst_reads"] or len(lat) % BLOCK:
        kind, q = next(queries)
        lat.append(b.run_op(f"analyst_reads q{i}", lambda: run_query(i, kind, q, False)))
        i += 1
        if b.args.trace:
            kind, q = next(queries)
            traced_lat.append(b.run_op(f"analyst_reads traced q{i}", lambda: run_query(i, kind, q, True)))
            i += 1
    if traced_lat:
        b.record("trace.op_overhead_ms", statistics.median(traced_lat) - statistics.median(lat))

    # end: compact, then restore the version before the compaction
    def compact_restore() -> float:
        t0 = time.perf_counter()
        with b.tracer.span("sinks.compact"):
            v2 = table.compact(b.spark)
        totals_check("analyst_reads compact", v2)
        b.record("sinks.compact_ms", (time.perf_counter() - t0) * 1e3)
        restored = table.restore(b.spark)
        totals_check("analyst_reads restore", restored)
        return (time.perf_counter() - t0) * 1e3

    b.run_op("analyst_reads compact+restore", compact_restore)
    return lat


# the same end-to-end numbers under the names the workloads were specified with
ALIASES = {
    "daily_batch": {"batch_s": ("op_p50_ms", 1e-3, "s")},
    "analyst_reads": {"query_p50_ms": ("op_p50_ms", 1.0, "ms"), "query_tail_ms": ("op_tail_ms", 1.0, "ms")},
}


def summarize(b: Bench, lat: list[float], workload: str, rss: tuple[float, float]) -> dict:
    pct = TAIL_PCT[workload]
    steal = probes.cpu_ticks()
    e2e = {
        "setup_s": (b.setup_s, "s"),
        "op_p50_ms": (statistics.median(lat), "ms"),
        "op_tail_ms": (percentile(lat, pct), "ms"),
        "peak_rss_mb": (sum(rss), "MB"),
    }
    beyond = len(lat) * (100 - pct) / 100
    line = [f"{workload} seed={b.args.seed} ops={len(lat)} tail=p{pct:g} ({beyond:.1f} beyond)",
            f"gen_s={b.gen_s:.3f}", *(f"{k}={v:.3f}" for k, v in b.phases.items()),
            f"jvm_hwm_mb={rss[0]:.1f} py_maxrss_mb={rss[1]:.1f}",
            *(f"{k}={v:.4f}{u}" for k, (v, u) in e2e.items()),
            *(f"{k}={e2e[src][0] * f:.4f}{u}" for k, (src, f, u) in ALIASES[workload].items()),
            f"error_rate={b.failed / max(1, b.attempted):.4f} ({b.failed}/{b.attempted})",
            f"steal_pct={100 * (steal[0] - b.ticks0[0]) / max(1, steal[1] - b.ticks0[1]):.1f}"]
    if b.args.trace:
        overhead = b.layer["trace.op_overhead_ms"]
        line.append(f"tracing_overhead_ms={overhead[0] if overhead else float('nan'):.1f} (traced minus untraced op)")
        metrics = {
            name: {"value": statistics.median(b.layer[name]) if b.layer[name] else 0.0, "unit": unit}
            for name, unit in PER_LAYER
        }
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(" ".join(line))
    print(f"warmup_ms={json.dumps([round(x, 1) for x in b.warmup_lat])}", file=sys.stderr)
    print(f"latencies_ms={json.dumps([round(x, 1) for x in lat])}", file=sys.stderr)
    return {"correct": b.failed == 0, "attempted": b.attempted, "failed": b.failed, "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "domanda_etl_spark")):
        print("flightbench: run from the repository root (domanda_etl_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    b = Bench(args, work)
    try:
        run = daily_batch if args.workload == "daily_batch" else analyst_reads
        lat = run(b, args.seconds)
        rss = probes.peak_rss_mb(b.jvm_pid)
        result = summarize(b, lat, args.workload, rss)
        if args.trace:
            b.tracer.dump(os.path.join(root, ".bench_out", f"trace-{args.workload}-{args.seed}.jsonl"))
    finally:
        if "pyspark" in sys.modules:
            b.stop()
        else:
            b.oracle.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
