"""The benchmark's op loop: sinks, timing, verification, cleanup, tracing.

One client issues one op at a time (closed loop); an op is one registry
query plus its sink. Pass 0 runs every op once cold, is timed into
``setup_s`` and is the pass whose output is checked against the DuckDB
oracle. Timed passes follow until ``--seconds`` have been measured (at
least two); each must reproduce pass 0's checksum exactly. An op's time
is its best over the timed passes.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import asdict, dataclass, field
from functools import reduce

import duckdb
import pyspark
from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bbcnews_scraper_nlp_spark.catalog import TABLES
from bbcnews_scraper_nlp_spark.queries import REGISTRY
from bbcnews_scraper_nlp_spark.session import get_spark
from bbcnews_scraper_nlp_spark.sources import stage_io
from tools.check_oracles import table_hash

import counters
import datagen
import workloads

RECORD_SCHEMA = 1
MIN_PASSES = 2


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- sinks


def checksum_frame(df: DataFrame) -> DataFrame:
    """Row count plus the masked xxhash64 sum over every column."""
    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns]).bitwiseAND(0xFFFFFFFF)
    return df.agg(F.count(F.lit(1)).alias("n"), F.coalesce(F.sum(h), F.lit(0)).alias("h"))


def checksum(df: DataFrame) -> list[int]:
    row = checksum_frame(df).collect()[0]
    return [int(row["n"]), int(row["h"])]


def write_stage(spark: SparkSession, df: DataFrame, sink: str, path: str) -> None:
    root, name = os.path.split(path)
    if sink == "append":
        stage_io.append_stage(df, root, name)
    elif sink == "upsert":
        stage_io.upsert_skip(spark, df, root, name, "url")
    elif sink == "csv":
        stage_io.export_csv(df, path, df.columns)
    else:
        raise ValueError(f"unknown sink {sink!r}")


def read_stage(spark: SparkSession, sink: str, path: str, schema) -> DataFrame:
    reader = spark.read.schema(schema)  # no footer or header inference
    if sink == "csv":
        return reader.option("header", True).csv(path)
    return reader.parquet(path)


def data_files(path: str) -> dict[str, int]:
    """Written data files under ``path`` -> size in bytes."""
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                out[os.path.join(d, n)] = os.path.getsize(os.path.join(d, n))
    return out


# --------------------------------------------------------------- oracle


def canonical(cols: list[str], rows: list[tuple]) -> dict:
    return {"cols": sorted(cols), "rows": len(rows), "hash": table_hash(cols, rows)}


class Oracles:
    """DuckDB oracle hashes, cached per (op, oracle SQL, input) on disk."""

    def __init__(self, data_dir: str, input_key: str, cache_path: str):
        self.data_dir, self.input_key, self.cache_path = data_dir, input_key, cache_path
        self.con = None
        try:
            with open(cache_path) as f:
                self.cache = json.load(f)
        except (OSError, ValueError):
            self.cache = {}

    def expected(self, op: str) -> dict:
        sql = REGISTRY[op].sql
        if sql is None:
            raise LookupError(f"{op} has no oracle")
        key = hashlib.sha256(f"{op}\0{sql}\0{self.input_key}".encode()).hexdigest()
        if key not in self.cache:
            if self.con is None:
                self.con = duckdb.connect(config={"temp_directory": os.path.join(os.path.dirname(self.cache_path), "tmp")})
                for t in TABLES:
                    self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
            pdf = self.con.sql(sql).df()
            self.cache[key] = canonical(list(pdf.columns), list(pdf.itertuples(index=False, name=None)))
            tmp = self.cache_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.cache, f)
            os.replace(tmp, self.cache_path)
        return self.cache[key]


# ----------------------------------------------------------------- spans


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans (pass -> op -> build / exec) kept in memory, written at exit."""

    def __init__(self):
        self.spans: list[Span] = []

    def open(self, name: str, parent: Span | None = None, **attrs) -> Span:
        span = Span(len(self.spans), parent.id if parent else None, name, time.perf_counter(), attrs=attrs)
        self.spans.append(span)
        return span

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# --------------------------------------------------------------- session


def start_session(work: str) -> SparkSession:
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_session(spark: SparkSession | None) -> None:
    """Stop Spark and wait for its JVM (and so its Python workers) to exit."""
    if spark is not None:
        try:
            spark.stop()
        except Exception:  # noqa: BLE001 - the JVM is killed below regardless
            log(f"spark.stop failed:\n{traceback.format_exc()}")
    gateway = SparkContext._gateway
    if gateway is None:
        return
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001
        log(f"gateway shutdown failed:\n{traceback.format_exc()}")
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def release(spark: SparkSession) -> None:
    """Free what an op left cached, before the next op starts (untimed)."""
    try:
        spark.catalog.clearCache()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)
        for v in spark.sql("SHOW VIEWS").collect():  # cheaper than listTables()
            if v.isTemporary:
                spark.catalog.dropTempView(v.viewName)
    except Exception:  # noqa: BLE001 - one failed cleanup must not end the run
        log(f"cleanup failed:\n{traceback.format_exc()}")


def cpu_ticks() -> list[int]:
    """Machine-wide CPU ticks (user, nice, system, idle, ..., steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the host took from this machine between two
    ``cpu_ticks`` samples: a diagnostic for noisy timings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def environment(root: str, seed: int) -> dict:
    commit = "unknown"
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
            ).stdout.strip() or "unknown"
        except (OSError, subprocess.TimeoutExpired):
            pass
    return {
        "git_commit": commit,
        "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "driver_mem": os.environ["SPARK_DRIVER_MEM"],
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "seed": seed,
    }


# -------------------------------------------------------------------- run


@dataclass
class OpRun:
    pass_no: int
    op: str
    s: float = 0.0
    build_s: float = 0.0
    exec_s: float = 0.0
    ok: bool = False
    error: str | None = None
    checksum: list[int] | None = None
    traced: bool = False
    counters: dict | None = None
    bytes_written: int = 0
    files_written: int = 0


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, root: str, work: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.root, self.work = root, work
        self.ops, self.sf = workloads.WORKLOADS[workload]
        self.rng = random.Random(seed)
        self.records: list[OpRun] = []
        self.failures: list[dict] = []
        self.reference: dict[str, list[int]] = {}
        self.schemas: dict = {}
        self.tracer = Tracer()
        self.spark: SparkSession | None = None
        self.stage_base = os.path.join(work, "stages", f"{workload}-{seed}-{os.getpid()}")
        self.data_dir = ""
        self.steal = 0.0

    # ---- inputs

    def make_inputs(self) -> str:
        with open(datagen.__file__, "rb") as f:
            gen_hash = hashlib.sha256(f.read()).hexdigest()[:16]
        d = os.path.join(self.work, "data", f"sf{self.sf}-seed{self.seed}-{gen_hash}")
        if not os.path.exists(os.path.join(d, "_DONE")):
            shutil.rmtree(d, ignore_errors=True)
            datagen.generate(d, self.seed, self.sf)
            open(os.path.join(d, "_DONE"), "w").close()
        self.input_key = os.path.basename(d)
        return d

    # ---- one op

    def fail(self, rec: OpRun, why: str) -> None:
        """Record a failed op; ``why`` is a message or a whole traceback."""
        rec.ok = False
        rec.error = rec.error or why
        self.failures.append({"pass": rec.pass_no, "op": rec.op, "error": why})
        head = next((ln for ln in why.splitlines() if ln and not ln.startswith((" ", "\t", "Traceback"))), why)
        log(f"FAILED pass {rec.pass_no} {rec.op}: {head[:300]}")

    def stage_path(self, op: str, sink: str, pass_no: int) -> str:
        if sink == "upsert":  # shared by every pass: later passes skip known urls
            return os.path.join(self.stage_base, "shared", op)
        return os.path.join(self.stage_base, f"pass{pass_no}", op)

    def run_op(self, op: str, pass_no: int, traced: bool, parent: Span | None) -> OpRun:
        """Time one op and its sink; return its record (never raises)."""
        sc = self.spark.sparkContext
        layer, sink = self.ops[op]
        rec = OpRun(pass_no, op, traced=traced)
        path = self.stage_path(op, sink, pass_no) if sink != "checksum" else None
        before = data_files(path) if path else {}
        rows = None
        span = self.tracer.open(op, parent, layer=layer) if traced else None
        first_job = last_job = counters.last_job_id(sc) + 1 if traced else 0
        t0 = t1 = t2 = time.perf_counter()
        try:
            if traced:
                counters.set_group(sc, f"p{pass_no}:{op}:build")
            df = REGISTRY[op].fn(self.spark, self.data_dir)
            t1 = time.perf_counter()
            if traced:
                counters.set_group(sc, f"p{pass_no}:{op}:exec")
            if sink != "checksum":
                write_stage(self.spark, df, sink, path)
            elif pass_no == 0:
                rows = [tuple(r) for r in df.collect()]
            else:
                rec.checksum = checksum(df)
            t2 = time.perf_counter()
            rec.s, rec.build_s, rec.exec_s, rec.ok = t2 - t0, t1 - t0, t2 - t1, True
        except Exception:  # noqa: BLE001 - log, count, continue with the next op
            self.fail(rec, traceback.format_exc())
        finally:
            if traced:
                counters.set_group(sc, None)
                span.end = time.perf_counter()
                last_job = counters.last_job_id(sc)
                self.tracer.spans.append(Span(len(self.tracer.spans), span.id, "build", t0, t1))
                self.tracer.spans.append(Span(len(self.tracer.spans), span.id, "exec", t1, t2))
        try:
            if rec.ok:
                self.check(rec, df, sink, path, rows)
                if traced:
                    build_ids = counters.group_job_ids(sc, f"p{pass_no}:{op}:build")
                    exec_ids = counters.group_job_ids(sc, f"p{pass_no}:{op}:exec")
                    # jobs the op ran under a group of their own, as a
                    # stream's micro-batches: they ran in the build (the drain)
                    own = set(build_ids + exec_ids)
                    build_ids += [j for j in range(first_job, last_job + 1) if j not in own]
                    c = counters.job_counters(sc, build_ids)
                    build_jobs = c.jobs
                    exec_c = counters.job_counters(sc, exec_ids)
                    c += exec_c
                    rec.counters = {**asdict(c), "build_jobs": build_jobs, "exec_run_s": exec_c.run_s}
                    span.attrs.update(rec.counters)
            if path:
                new = {p: n for p, n in data_files(path).items() if p not in before}
                rec.files_written, rec.bytes_written = len(new), sum(new.values())
        except Exception:  # noqa: BLE001
            self.fail(rec, traceback.format_exc())
        release(self.spark)
        self.records.append(rec)
        return rec

    def check(self, rec: OpRun, df: DataFrame, sink: str, path: str | None, rows) -> None:
        """Outside the timed region. Pass 0: oracle check and reference
        checksum. Later passes: a checksum sink must equal pass 0's. The
        stage tables of a pass are checksummed together by
        ``check_written``."""
        if rec.pass_no > 0:
            if not path and rec.checksum != self.reference.get(rec.op):
                self.fail(rec, f"checksum {rec.checksum} != pass 0 {self.reference.get(rec.op)}")
            return
        if path:
            rows = [tuple(r) for r in read_stage(self.spark, sink, path, df.schema).collect()]
            self.schemas[rec.op] = df.schema
        else:
            rec.checksum = checksum(self.spark.createDataFrame(rows, df.schema))
            self.reference[rec.op] = rec.checksum
        got = canonical(df.columns, rows)
        want = self.oracles.expected(rec.op)
        if got != want:
            self.fail(rec, f"oracle mismatch: spark {got} duckdb {want}")

    def check_written(self, recs: list[OpRun]) -> None:
        """Checksum every stage table a pass wrote, in one Spark action.
        Pass 0's checksums are the reference later passes must match."""
        written = [r for r in recs if r.ok and self.ops[r.op][1] != "checksum"]
        got = {}
        try:
            frames = []
            for r in written:
                if r.op in self.schemas:  # else pass 0 failed: no reference to match
                    sink = self.ops[r.op][1]
                    back = read_stage(self.spark, sink, self.stage_path(r.op, sink, r.pass_no), self.schemas[r.op])
                    frames.append(checksum_frame(back).select(F.lit(r.op).alias("op"), "n", "h"))
            if frames:
                rows = reduce(DataFrame.unionByName, frames).collect()
                got = {row["op"]: [int(row["n"]), int(row["h"])] for row in rows}
        except Exception:  # noqa: BLE001 - every op below then fails its check
            log(f"stage checksum failed:\n{traceback.format_exc()}")
        for r in written:
            r.checksum = got.get(r.op)
            if r.pass_no == 0:
                self.reference[r.op] = r.checksum
            if r.checksum is None or r.checksum != self.reference.get(r.op):
                self.fail(r, f"checksum {r.checksum} != pass 0 {self.reference.get(r.op)}")

    # ---- passes

    def run_pass(self, pass_no: int, traced: bool) -> list[OpRun]:
        order = list(self.ops)
        self.rng.shuffle(order)
        span = self.tracer.open(f"pass{pass_no}", traced=traced) if traced else None
        out = [self.run_op(op, pass_no, traced, span) for op in order]
        self.check_written(out)
        if span:
            span.end = time.perf_counter()
        if pass_no > 1:  # keep the disk flat: earlier per-pass roots are checked
            shutil.rmtree(os.path.join(self.stage_base, f"pass{pass_no - 1}"), ignore_errors=True)
        return out

    def execute(self) -> dict:
        self.data_dir = self.make_inputs()
        os.makedirs(self.stage_base, exist_ok=True)
        self.oracles = Oracles(self.data_dir, self.input_key, os.path.join(self.work, "oracle_cache.json"))
        try:
            t0 = time.perf_counter()
            self.spark = start_session(self.work)
            start_s = time.perf_counter() - t0
            warm = self.run_pass(0, traced=False)
            warm_s = sum(r.s for r in warm)
            log(f"session {start_s:.2f} s, pass 0 {warm_s:.2f} s timed, {time.perf_counter() - t0:.2f} s with checks")
            passes: list[tuple[bool, list[OpRun]]] = []
            measured, k = 0.0, 0
            ticks = cpu_ticks()
            while measured < self.seconds or k < MIN_PASSES:
                k += 1
                traced = self.trace and k % 2 == 0
                recs = self.run_pass(k, traced)
                passes.append((traced, recs))
                measured += sum(r.s for r in recs)
                log(f"pass {k}{' traced' if traced else ''} {sum(r.s for r in recs):.2f} s timed, at {time.perf_counter() - t0:.2f} s")
                if not any(r.ok for r in recs):  # nothing is measured: more passes cannot end the loop
                    break
            self.steal = steal_share(ticks, cpu_ticks())
        finally:
            stop_session(self.spark)
            shutil.rmtree(self.stage_base, ignore_errors=True)
        return self.summarize(start_s, warm_s, passes)

    # ---- metrics

    def summarize(self, start_s: float, warm_s: float, passes) -> dict:
        # Each op's time is its best over the untraced timed passes: the
        # host takes CPU from this machine in bursts (see host_steal_share),
        # and a per-op median still moved wall_s by 28% between runs where
        # best-of-3 moved it by 16%. wall_s is the sum of the best times
        # (a pass made of best op times, not one pass's own wall clock),
        # op_geomean_s their geometric mean. Timings cover the ops that
        # succeeded; failures count in ok_ratio.
        untraced = [[r for r in recs if r.ok] for traced, recs in passes if not traced]
        per_op: dict[str, list[float]] = {}
        for recs in untraced:
            for r in recs:
                per_op.setdefault(r.op, []).append(r.s)
        op_s = [min(v) for v in per_op.values()]
        walls = [sum(r.s for r in recs) for recs in untraced]
        attempted = len(self.records)
        failed = len({(f["pass"], f["op"]) for f in self.failures})
        summary = {
            "setup_s": start_s + warm_s,
            "wall_s": sum(op_s),
            "op_geomean_s": math.exp(statistics.fmean(math.log(s) for s in op_s)) if op_s else 0.0,
            "ok_ratio": 1.0 - failed / attempted,
        }
        detail = {
            "passes": len(walls),
            "pass_wall_quartiles": statistics.quantiles(walls, n=4) if len(walls) > 1 else walls,
            "fail_ratio": failed / attempted,
            "host_steal_share": self.steal,
        }
        log(
            f"{self.workload} seed={self.seed}: setup_s={summary['setup_s']:.3f} "
            f"wall_s={summary['wall_s']:.3f} (passes={len(walls)}, pass wall quartiles="
            f"{[round(q, 3) for q in detail['pass_wall_quartiles']]}) op_geomean_s={summary['op_geomean_s']:.4f} "
            f"fail_ratio={detail['fail_ratio']:.4f} ({failed}/{attempted}) host steal={self.steal:.1%}"
        )
        if self.trace:
            metrics = self.layer_metrics(start_s, warm_s, passes, walls)
        else:
            units = {"setup_s": "s", "wall_s": "s", "op_geomean_s": "s", "ok_ratio": "ratio"}
            metrics = {k: {"value": v, "unit": units[k]} for k, v in summary.items()}
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
            "summary": {**summary, **detail, "setup": {"start_s": start_s, "warm_s": warm_s}},
        }

    def layer_metrics(self, start_s: float, warm_s: float, passes, walls: list[float]) -> dict:
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        traced = [recs for t, recs in passes if t]
        per_pass = []
        for recs in traced:
            m: dict[str, float] = {}
            for r in recs:
                layer, sink = self.ops[r.op]
                c = r.counters or {}
                for key, v in (
                    ("s", r.s), ("build_s", r.build_s), ("exec_s", r.exec_s),
                    ("jobs", c.get("jobs", 0)), ("tasks", c.get("tasks", 0)),
                    ("shuffle_bytes", c.get("shuffle_bytes", 0)), ("spill_bytes", c.get("spill_bytes", 0)),
                    ("failed_tasks", c.get("failed_tasks", 0)), ("exec_run_s", c.get("exec_run_s", 0.0)),
                ):
                    m[f"{layer}.{key}"] = m.get(f"{layer}.{key}", 0) + v
                m[f"op.{r.op}.s"] = r.s
                m[f"op.{r.op}.jobs"] = c.get("jobs", 0)
                m["catalog.input_bytes"] = m.get("catalog.input_bytes", 0) + c.get("input_bytes", 0)
                m["trace.skipped_stages"] = m.get("trace.skipped_stages", 0) + c.get("skipped_stages", 0)
                if sink != "checksum":
                    m["sources.stage_io.write_s"] = m.get("sources.stage_io.write_s", 0) + r.exec_s
                    m["sources.stage_io.bytes_written"] = m.get("sources.stage_io.bytes_written", 0) + r.bytes_written
                    m["sources.stage_io.files_written"] = m.get("sources.stage_io.files_written", 0) + r.files_written
            for layer in {self.ops[r.op][0] for r in recs}:
                # executor run time of the exec-phase jobs over the cores
                # the layer held while executing (build-phase jobs, such as
                # eager checkpoints, count in jobs and tasks, not here)
                held = m[f"{layer}.exec_s"] * cores
                m[f"{layer}.cpu_util"] = m.pop(f"{layer}.exec_run_s") / held if held else 0.0
            per_pass.append(m)
        traced_walls = [sum(r.s for r in recs) for recs in traced]
        fixed = {
            "session.start_s": start_s,
            "session.warm_s": warm_s,
            "trace.overhead_s": statistics.median(traced_walls) - statistics.median(walls) if traced_walls else 0.0,
        }
        out = {}
        for name, unit, _ in workloads.per_layer_metrics():
            if name in fixed:
                v = fixed[name]
            else:
                vals = [m.get(name, 0) for m in per_pass]
                v = statistics.median(vals) if vals else 0
            out[name] = {"value": v, "unit": unit}
        return out

    def record(self, result: dict, started: float) -> dict:
        """The raw run record appended to ``.perfbench/runs.jsonl``."""
        return {
            "schema": RECORD_SCHEMA,
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": int(self.trace),
            "started": started,
            "env": environment(self.root, self.seed),
            "summary": result["summary"],
            "ops": [asdict(r) for r in self.records],
            "failures": self.failures,
            "correct": result["correct"],
            "attempted": result["attempted"],
            "failed": result["failed"],
            "metrics": result["metrics"],
        }
