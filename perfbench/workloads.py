"""The benchmark's workloads: seeded, closed-loop, one client.

A run is: a cold session start (timed), a warm-up (outside the units;
``setup_s`` counts it with the cold start), then timed *units* until
``seconds`` of operation time have been measured, each operation
checked after it outside its timed interval, then the end-of-run
checks (untimed).
Every unit is a whole number of rounds of each phase the workload runs,
so every run sees the same mix of operations whatever the seed:

* ``sql`` phase — one round of the eleven interactive queries in a
  seeded order: four parameterised ``spark.sql`` templates over the
  views ``readers.register_views`` registers, and seven relational
  registry builders; each result is fetched to the client.
* ``etl`` phase — one ``run_job`` on a fresh seeded people file,
  ``catalog.register_table`` of its result, then one cycle of the
  sliding-window ACID mix on a ``TransactionalTable``.
* ``curation`` phase — one pass over the seven LLM-data operators in a
  seeded order, each result written with ``sinks.write_lake``.
"""

from __future__ import annotations

import io
import json
import os
import random
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import lakegen
from data_lake_construction_and_querying_with_pyspark_spark import acid, catalog, pipeline, registry, session
from data_lake_construction_and_querying_with_pyspark_spark.config import JobConfig
from data_lake_construction_and_querying_with_pyspark_spark.sources import readers, sinks

SQL_TEMPLATES = ("sql_flagship_between", "sql_q1_shipdate", "sql_q5_region", "sql_segment_filter")
SQL_REGISTRY = (
    "join_broadcast_chain", "window_topk_per_customer", "cte_top_revenue_nations",
    "local_supplier_volume_q5", "market_share_q8", "events_user_sessions", "funnel_conversion",
)
CURATION_OPS = (
    "dedup_minhash_near_dup", "dedup_ngram_jaccard_pairs", "semantic_dedup_embeddings",
    "knn_graph_topk", "bm25_topk_documents", "text_quality_scores", "pagerank_trade_network",
)
# The first timed round after one warm-up round still runs ~30% slow,
# so the query workload times at least three rounds and the per-unit
# figures (medians over units) skip it; a second warm-up round would
# cost more run time than the two extra timed rounds.
SQL_WARMUP_ROUNDS = 1
MIN_UNITS = 3
PEOPLE_ROWS = 100_000
ACID_WINDOW = 3
MERGE_UPDATES = 600
MERGE_INSERTS = 100
PROBE_SQL = "SELECT COUNT(*) AS n FROM orders WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'"


def _day(base: str, offset: int) -> str:
    return str(np.datetime64(base, "D") + np.timedelta64(int(offset), "D"))


def template_sql(name: str, rng: random.Random) -> str:
    """One instance of a parameterised template, valid in Spark SQL and
    DuckDB alike. Money sums go through exact decimals (the registry's
    determinism contract), so both engines return identical doubles."""
    if name == "sql_flagship_between":
        lo = rng.randrange(0, 2000)  # a one-year window, so every seed returns ~23k rows
        return (
            "SELECT * FROM orders WHERE o_orderdate BETWEEN "
            f"TIMESTAMP '{_day('1995-01-01', lo)}' AND TIMESTAMP '{_day('1995-01-01', lo + 364)}'"
        )
    if name == "sql_q1_shipdate":
        return f"""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '{_day('1998-01-01', rng.randrange(0, 1400))}'
        GROUP BY l_returnflag, l_linestatus"""
    if name == "sql_q5_region":
        year = rng.randrange(1995, 2001)
        return f"""
        SELECT n_name,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = '{rng.choice(lakegen.REGIONS)}' AND c_nationkey = s_nationkey
          AND o_orderdate >= TIMESTAMP '{year}-01-01' AND o_orderdate < TIMESTAMP '{year + 1}-01-01'
        GROUP BY n_name"""
    if name == "sql_segment_filter":
        return f"""
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM customer JOIN orders ON c_custkey = o_custkey
        WHERE c_mktsegment = '{rng.choice(lakegen.SEGMENTS)}' AND o_orderstatus = '{rng.choice('FOP')}'
        GROUP BY o_orderpriority"""
    raise KeyError(name)


class Inputs:
    """Every seeded input, each drawn from its own stream keyed by
    (seed, kind, index), so an input never depends on how far a run got."""

    def __init__(self, seed: int):
        self.seed = seed

    def _rng(self, kind: int, i: int) -> random.Random:
        return random.Random(f"{self.seed}:{kind}:{i}")

    def sql_round(self, r: int) -> list[tuple[str, str | None]]:
        rng = self._rng(1, r)
        items = [(n, template_sql(n, rng)) for n in SQL_TEMPLATES] + [(n, None) for n in SQL_REGISTRY]
        rng.shuffle(items)
        return items

    def people(self, j: int) -> tuple[pd.DataFrame, str, str, str]:
        """People file ``j``: rows, format (csv → parquet or parquet → csv
        job) and the query's 20-year birth-date window."""
        rng = self._rng(2, j)
        fmt = rng.choice(["csv", "parquet"])
        lo = rng.randrange(1950, 2005)
        df = lakegen.make_people(PEOPLE_ROWS, rng.randrange(2**31))
        return df, fmt, f"{lo}-01-01", f"{lo + 19}-12-31"

    def merge_keys(self, i: int, live_keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        rng = np.random.default_rng([self.seed, 3, i])
        upd = np.sort(rng.choice(live_keys, size=min(MERGE_UPDATES, len(live_keys)), replace=False))
        ins = 1_000_000_000 + i * 1_000 + np.arange(MERGE_INSERTS, dtype=np.int64)
        return upd, ins

    def curation_order(self, p: int) -> list[str]:
        order = list(CURATION_OPS)
        self._rng(4, p).shuffle(order)
        return order

    def first_digest(self, phases: tuple[str, ...]) -> str:
        """Digest of the first input of every kind the phases use (used to
        show that equal seeds give byte-identical inputs)."""
        frames, extra = [], []
        if "sql" in phases:
            extra.append(json.dumps(self.sql_round(0)))
        if "etl" in phases:
            df, fmt, lo, hi = self.people(0)
            upd, ins = self.merge_keys(0, np.arange(ACID_WINDOW * lakegen.ACID_BATCH_ROWS, dtype=np.int64))
            frames += [df, lakegen.acid_batch(0, self.seed), pd.DataFrame({"u": upd}), pd.DataFrame({"i": ins})]
            extra += [fmt, lo, hi]
        if "curation" in phases:
            extra.append(json.dumps(self.curation_order(0)))
        return lakegen.input_digest(frames, extra)


@dataclass
class Op:
    kind: str  # query | job | catalog | commit | read | curation
    name: str
    ms: float
    ok: bool


@dataclass
class RunState:
    ops: list[Op] = field(default_factory=list)  # timed operations
    verified: list[bool] = field(default_factory=list)  # untimed post-run checks
    failures: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    def verify(self, what: str, reason: str | None) -> None:
        self.verified.append(reason is None)
        if reason is not None:
            self.failures.append(f"{what}: {reason}")

    @property
    def attempted(self) -> int:
        return len(self.ops) + len(self.verified)

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops) + self.verified.count(False)


class Bench:
    def __init__(self, args, lake_dir: str, work: str, oracle_cache: str, tracer, spark_conf: dict):
        self.args = args
        self.lake = lake_dir
        self.work = work
        self.tracer = tracer
        self.spark_conf = spark_conf
        self.inputs = Inputs(args.seed)
        self.state = RunState()
        self.queries = registry.all_queries()
        self.oracles = registry.all_oracles()
        self.oracle = checks.Oracle(lake_dir, lakegen.TABLES, os.path.join(work, "tmp"), oracle_cache)
        self.fault = args.inject_fault
        self.spark = None
        if tracer is not None:
            # pipeline stages run inside run_job: patch the names the
            # pipeline module imported, and the modules' own names
            tracer.patch(session, "get_spark", "session.get_spark")
            tracer.patch(readers, "register_views", "readers.register_views")
            for name, span in (("read_lake", "readers.read_lake"), ("validate", "validation.validate"),
                               ("clean", "cleaning.clean"), ("write_lake", "sinks.write_lake")):
                tracer.patch(pipeline, name, span)
            tracer.patch(sinks, "write_lake", "sinks.write_lake")
            tracer.patch(catalog, "register_table", "catalog.register_table")
            tracer.patch(pipeline, "run_job", "pipeline.run_job")
            for meth in ("append", "merge_upsert", "delete_where", "compact", "read"):
                tracer.patch(acid.TransactionalTable, meth, f"acid.{meth}")

    # -- helpers ----------------------------------------------------------

    def _phase(self, phase: str) -> None:
        if self.tracer is not None:
            self.tracer.phase = phase

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    def timed(self, kind: str, name: str, fn, check=None):
        """Run one timed operation; ``check(result)`` runs untimed after it
        and returns None or a failure reason."""
        ctx = self.tracer.spark_op(self.spark, name) if self.tracer is not None else nullcontext()
        t0 = time.perf_counter()
        try:
            with ctx:
                result = fn()
        except Exception as e:  # an operation that raises is a failed operation
            ms = (time.perf_counter() - t0) * 1000.0
            self.state.ops.append(Op(kind, name, ms, False))
            self.state.failures.append(f"{name}: raised {type(e).__name__}: {str(e)[:200]}")
            return None
        ms = (time.perf_counter() - t0) * 1000.0
        reason = check(result) if check is not None else None
        self.state.ops.append(Op(kind, name, ms, reason is None))
        if reason is not None:
            self.state.failures.append(f"{name}: {reason}")
        return result

    def _corrupt(self, pdf: pd.DataFrame) -> pd.DataFrame:
        if self.fault == "drop_row" and len(pdf):
            self.fault = None  # corrupt exactly one result
            return pdf.iloc[1:]
        return pdf

    def _check_against(self, got: pd.DataFrame, sql: str) -> str | None:
        reason = checks.diff(checks.fingerprint(self._corrupt(got)), self.oracle.fingerprint(sql))
        return None if reason is None else f"{reason} (DuckDB oracle)"

    # -- session set-up ---------------------------------------------------

    def setup(self) -> float:
        """Cold session start: JVM launch, ``get_spark``, view
        registration and a probe query. Returns its seconds."""
        t0 = time.perf_counter()
        self.spark = session.get_spark(app_name="perfbench", extra_conf=self.spark_conf)
        readers.register_views(self.spark, self.lake)
        self.spark.sql(PROBE_SQL).collect()
        return time.perf_counter() - t0

    # -- sql phase --------------------------------------------------------

    def sql_round(self, r: int, timed: bool) -> None:
        for name, sql in self.inputs.sql_round(r):
            if name in SQL_TEMPLATES:
                def build(sql=sql):
                    return self.spark.sql(sql)
                oracle_sql, layer = sql, "sql"
            else:
                def build(name=name):
                    return self.queries[name](self.spark, self.lake)
                oracle_sql, layer = self.oracles[name], f"registry.{name}"

            def op(build=build, layer=layer):
                with self.span(f"{layer}.build"):
                    df = build()
                with self.span(f"{layer}.execute"):
                    return df.toPandas()

            if timed:
                self.timed("query", name, op, lambda pdf, s=oracle_sql: self._check_against(pdf, s))
            else:
                op()

    # -- etl phase --------------------------------------------------------

    def etl_setup(self) -> None:
        """Create the ACID table and fill the sliding window (untimed)."""
        self.acid_root = os.path.join(self.work, "acid", "window")
        self.table = acid.TransactionalTable.create(self.acid_root)
        self.model = pd.concat([lakegen.acid_batch(b, self.args.seed) for b in range(ACID_WINDOW)],
                               ignore_index=True)
        for b in range(ACID_WINDOW):
            self.table.append(self.spark, self.spark.createDataFrame(lakegen.acid_batch(b, self.args.seed)), stats_cols=("batch",))
        self.versions: list[tuple[int, int, int]] = []  # (version, rows, sum k) acknowledged
        self._ack(self.table.snapshot().version)
        self.timed_from_version = self.versions[-1][0]
        self.user_bytes = 0
        self.job_rows = 0
        self.job_index = 0
        self.cycle = ACID_WINDOW

    def _ack(self, v) -> None:
        if v is not None:
            self.versions.append((int(v), len(self.model), int(self.model["k"].sum())))

    @staticmethod
    def _parquet_bytes(pdf: pd.DataFrame) -> int:
        buf = io.BytesIO()
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), buf, compression="snappy")
        return buf.tell()

    def acid_cycle(self) -> None:
        """append batch i, delete batch i-W, merge a seeded key set,
        compact, read the snapshot; the model follows every acknowledged commit."""
        from pyspark.sql import functions as F

        i = self.cycle
        self.cycle += 1
        batch = lakegen.acid_batch(i, self.args.seed)
        sdf = self.spark.createDataFrame(batch)
        v = self.timed("commit", "acid.append",
                       lambda: self.table.append(self.spark, sdf, stats_cols=("batch",)))
        if v is not None:
            self.model = pd.concat([self.model, batch], ignore_index=True)
            self.user_bytes += self._parquet_bytes(batch)
            self._ack(v)

        gone = i - ACID_WINDOW
        v = self.timed("commit", "acid.delete_where",
                       lambda: self.table.delete_where(self.spark, f"batch = {gone}", prune={"batch": (gone, gone)}))
        if v is not None:
            self.model = self.model[self.model["batch"] != gone].reset_index(drop=True)
            self._ack(v)

        upd_keys, ins_keys = self.inputs.merge_keys(i, self.model["k"].to_numpy())
        rng = np.random.default_rng([self.args.seed, 5, i])
        old = self.model.set_index("k").loc[upd_keys].reset_index()
        updates = pd.concat([
            old.assign(v=np.round(rng.uniform(0, 1000, len(old)), 3), tag="u"),
            pd.DataFrame({"k": ins_keys, "batch": np.full(len(ins_keys), i, dtype=np.int32),
                          "v": np.round(rng.uniform(0, 1000, len(ins_keys)), 3), "tag": "n"}),
        ], ignore_index=True)[["k", "batch", "v", "tag"]]
        usdf = self.spark.createDataFrame(updates)
        v = self.timed("commit", "acid.merge_upsert", lambda: self.table.merge_upsert(self.spark, usdf, ["k"]))
        if v is not None:
            self.model = pd.concat([self.model[~self.model["k"].isin(updates["k"])], updates], ignore_index=True)
            self.user_bytes += self._parquet_bytes(updates)
            self._ack(v)

        self._ack(self.timed("commit", "acid.compact", lambda: self.table.compact(self.spark)))

        want = (len(self.model), int(self.model["k"].sum()))

        def read():
            row = self.table.read(self.spark).agg(F.count("*").alias("n"), F.sum("k").alias("s")).collect()[0]
            return int(row["n"]), int(row["s"] or 0)

        self.timed("read", "acid.read", read, lambda got: None if got == want else f"snapshot read {got} != model {want}")

    def etl_job(self) -> None:
        """One run_job on a people file no job has read before, then
        catalog.register_table of its result."""
        j = self.job_index
        self.job_index += 1
        df, fmt, lo, hi = self.inputs.people(j)
        in_dir = os.path.join(self.work, "etl", "in")
        os.makedirs(in_dir, exist_ok=True)
        path = lakegen.write_people(df, os.path.join(in_dir, f"people_{j}"), fmt)
        n_read, n_out = lakegen.expected_job_rows(df, lo, hi)
        del df
        out = os.path.join(self.work, "etl", "out", f"job_{j}")
        cfg = JobConfig(
            file_type=fmt, table_name=f"people_{j}", input_path=path, output_path=out,
            ps_query=f"SELECT * FROM people_{j} WHERE `Date of birth` BETWEEN '{lo}' AND '{hi}'",
        )
        out_fmt = cfg.resolved_output_format()
        table = f"etl_people_{j}"

        def check_job(res):
            if res.validation.total_rows != n_read:
                return f"validated {res.validation.total_rows} rows, generator wrote {n_read}"
            got = self._count_files(out, out_fmt)
            return None if got == n_out else f"wrote {got} rows, model says {n_out}"

        def check_table(_):
            got = self._count_files(os.path.join(self.work, "warehouse", table), "parquet")
            return None if got == n_out else f"catalog table has {got} rows, model says {n_out}"

        res = self.timed("job", "pipeline.run_job", lambda: pipeline.run_job(self.spark, cfg), check_job)
        if res is None:
            return
        self.job_rows += n_read
        self.timed("catalog", "catalog.register_table",
                   lambda: catalog.register_table(self.spark, res.result_df, table), check_table)

    def _count_files(self, path: str, fmt: str) -> int:
        reader = "read_parquet" if fmt == "parquet" else "read_csv"
        opts = "" if fmt == "parquet" else ", header=true, all_varchar=true"
        n = int(self.oracle.query(f"SELECT COUNT(*) AS n FROM {reader}('{path}/*.{fmt}'{opts})")["n"][0])
        if self.fault == "drop_row":
            self.fault = None
            n -= 1
        return n

    def etl_finish(self) -> None:
        """Re-open the table from disk and read every acknowledged version."""
        fresh = acid.TransactionalTable(self.acid_root)
        for v, rows, sum_k in self.versions:
            files = [os.path.join(fresh.root, f) for f in fresh.snapshot(version=v).files]
            got = (0, 0)
            if files:
                r = self.oracle.query(f"SELECT COUNT(*) AS n, SUM(k) AS s FROM read_parquet({files!r})")
                got = (int(r["n"][0]), int(r["s"][0] or 0))
            self.state.verify(f"acid version {v}", None if got == (rows, sum_k) else
                              f"read {got}, acknowledged {(rows, sum_k)}")
        latest = fresh.read(self.spark).toPandas()
        self.state.verify("acid latest snapshot", checks.compare(self._corrupt(latest), self.model))

        # space and write amplification
        on_disk = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(self.acid_root) for f in fs
        )
        live_once = self._parquet_bytes(self.model)
        hist = fresh.history()
        timed_from = self.timed_from_version
        written = 0
        skipped = considered = 0
        for h in hist:
            v = h["version"]
            with open(os.path.join(fresh.log_path, f"{v:020d}.json")) as fh:
                entry = json.load(fh)
            if v > timed_from:
                written += sum(a.get("bytes", 0) for a in entry.get("add", []))
            if h.get("op") == "delete":
                skipped += h.get("skipped_files", 0)
                considered += len(fresh.snapshot(version=v - 1).files)
        self.state.extra.update(
            space_amp=on_disk / live_once,
            bytes_written_per_user_byte=written / self.user_bytes if self.user_bytes else 0.0,
            files_skipped_ratio=skipped / considered if considered else 0.0,
        )

    # -- curation phase ---------------------------------------------------

    def curation_pass(self, p: int) -> None:
        for name in self.inputs.curation_order(p):
            out = os.path.join(self.work, "curation", f"{name}_p{p}")

            def op(name=name, out=out):
                with self.span(f"registry.{name}.build"):
                    df = self.queries[name](self.spark, self.lake)
                with self.span(f"registry.{name}.execute"):
                    sinks.write_lake(df, out, "parquet")

            def check(_, name=name, out=out):
                got = self.oracle.query(f"SELECT * FROM read_parquet('{out}/*.parquet')")
                return self._check_against(got, self.oracles[name])

            self.timed("curation", name, op, check)

    def persistent_rdds(self) -> int:
        return len(self.spark.sparkContext._jsc.getPersistentRDDs())

    # -- the run ----------------------------------------------------------

    def run(self, phases: tuple[str, ...]) -> dict:
        wall = {"start": time.perf_counter()}
        setup = self.setup()
        wall["setup"] = time.perf_counter()
        self._phase("warmup")
        if "etl" in phases:
            self.etl_setup()
        if "sql" in phases:
            for r in range(SQL_WARMUP_ROUNDS):
                self.sql_round(-1 - r, timed=False)
        wall["warmup"] = time.perf_counter()
        self._phase("timed")
        rdds_before = self.persistent_rdds()

        units: list[float] = []  # operation seconds of each unit
        unit_geomeans: list[float] = []  # geometric-mean ms of each unit's good operations
        passes: list[float] = []  # operation seconds of each curation pass
        min_units = MIN_UNITS if "sql" in phases else 1
        while sum(units) < self.args.seconds or len(units) < min_units:
            first = len(self.state.ops)
            if "etl" in phases:
                self.etl_job()
                self.acid_cycle()
            if "sql" in phases:
                self.sql_round(len(units) + 1, timed=True)
            if "curation" in phases:
                c = len(self.state.ops)
                self.curation_pass(len(units) + 1)
                passes.append(sum(o.ms for o in self.state.ops[c:]) / 1000.0)
            units.append(sum(o.ms for o in self.state.ops[first:]) / 1000.0)
            good = [o.ms for o in self.state.ops[first:] if o.ok]
            if good:
                unit_geomeans.append(float(np.exp(np.mean(np.log(good)))))
        leaked = self.persistent_rdds() - rdds_before
        wall["timed"] = time.perf_counter()
        self._phase("checks")
        if "etl" in phases:
            self.etl_finish()

        digest = self.inputs.first_digest(phases)
        self.state.verify("inputs", None if digest == Inputs(self.args.seed).first_digest(phases)
                          else "not reproducible from the seed")
        wall["checks"] = time.perf_counter()
        marks = list(wall.items())
        wall_s = {k: round(t - marks[i - 1][1], 3) for i, (k, t) in enumerate(marks) if i}
        return dict(setup=setup, wall_s=wall_s, units=units, unit_geomeans=unit_geomeans,
                    passes=passes, leaked_rdds=leaked, input_digest=digest)


def _by_name(ops: list[Op]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for o in ops:
        out.setdefault(o.name, []).append(round(o.ms, 1))
    return out


def summarize(state: RunState, run: dict, phases: tuple[str, ...], etl_rows: int) -> dict:
    """Every end-to-end figure by name (the report line). A p90 is given
    only when at least ten samples lie beyond it."""
    good = [o for o in state.ops if o.ok]

    def lat(*kinds: str) -> list[float]:
        return [o.ms for o in good if not kinds or o.kind in kinds]

    def dist(label: str, xs: list[float]) -> dict:
        return {
            f"{label}_p50_ms": statistics.median(xs) if xs else None,
            f"{label}_p90_ms": float(np.percentile(xs, 90)) if len(xs) >= 100 else None,
            f"{label}_samples": len(xs),
        }

    rep: dict = {
        "setup_s": run["setup"] + run["wall_s"]["warmup"],
        "cold_start_s": run["setup"],
        "wall_s": run["wall_s"],
        "unit_s": statistics.median(run["units"]),
        "units": len(run["units"]),
        "measured_s": sum(run["units"]),
        **dist("op", lat()),
        "op_geomean_ms": statistics.median(run["unit_geomeans"]) if run["unit_geomeans"] else None,
        "op_ms": _by_name(good),
        "error_rate": state.failed / state.attempted,
        "attempted": state.attempted,
        "failed": state.failed,
    }
    if "sql" in phases:
        q = lat("query")
        rep.update(dist("query", q))
        rep["queries_per_s"] = len(q) / (sum(q) / 1000.0) if q else None
    if "etl" in phases:
        jobs = lat("job")
        rep["job_p50_ms"] = statistics.median(jobs) if jobs else None
        rep["ingest_rows_per_s"] = etl_rows / (sum(jobs) / 1000.0) if jobs else None
        rep.update(dist("commit", lat("commit")))
        rep["space_amp"] = state.extra.get("space_amp")
    if "curation" in phases:
        rep["pass_s"] = statistics.median(run["passes"])
    rep["operators_leaked_rdds"] = run["leaked_rdds"]
    return rep
