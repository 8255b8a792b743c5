"""The workloads.  Each is a closed loop with one client: the next op
is sent only after the previous one returned and its result was
checked.  The engine is driven only through the package's public
functions; spans around those calls are opened here.

``ingest`` runs the reference's file-to-warehouse path; ``analytics``
runs the TPC-H-shaped queries and, in traced runs only, the curation
job and its stages (their cold and warm job costs are too large for
every untraced run to repeat)."""

from __future__ import annotations

import os
import time
import traceback
from dataclasses import dataclass, field

import gen
from measure import SparkCounter, Tracer, engine_cpu, median

#: Sizes at ``--scale 1``.
TPCH_SF = 0.01
DOC_SHARDS = 2
DOCS_PER_SHARD = 500
INGEST_KEYS = 6000
INGEST_ROWS = 400
COMPACT_EVERY = 6
#: Warm-up before the first timed op: one round of queries, two files
#: and a compaction.  Longer warm-ups measured no steadier on this
#: size of run, and each run pays them.
WARMUP_ROUNDS = 1
WARMUP_FILES = 2


@dataclass
class Run:
    """State and results of one benchmark run."""

    spark: object
    tracer: Tracer
    counter: SparkCounter | None
    seed: int
    seconds: float
    work: str
    scale: float
    jvm: int = 0
    latencies: list[float] = field(default_factory=list)
    cpu_times: list[float] = field(default_factory=list)
    busy_s: float = 0.0
    cpu_busy_s: float = 0.0
    rows: int = 0
    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0
    layers: dict[str, float] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)

    def cpu(self) -> float:
        """CPU seconds used so far by the engine: its processes, plus
        this thread, where the PySpark client side runs."""
        return engine_cpu(self.jvm) + time.thread_time()

    def op(self, fn, check=None, measured=True, rows=0, counts="spark"):
        """Run one op: time ``fn()`` and the engine CPU it used; then,
        outside the timed window, count Spark work (traced runs) and
        check the result.  Returns ``fn``'s result, or None when it
        raised or ``check`` failed."""
        self.attempted += 1
        self.tracer.op += 1
        if self.counter:
            c0 = time.perf_counter()
            self.counter.start()
            self.tracer.overhead_s += time.perf_counter() - c0
        cpu0 = self.cpu()
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            return None
        took = time.perf_counter() - t0
        cpu = self.cpu() - cpu0
        if self.counter:
            c0 = time.perf_counter()
            jobs, stages, tasks, failed = self.counter.stop()
            self.tracer.overhead_s += time.perf_counter() - c0
            for name, v in (("jobs_per_op", jobs), ("stages_per_op", stages),
                            ("tasks_per_op", tasks), ("failed_tasks", failed)):
                self.tracer.count(f"{counts}.{name}", v)
        if check is not None:
            try:
                ok = check(out)
            except Exception:
                self.errors.append(traceback.format_exc(limit=3))
                ok = False
            if not ok:
                self.failed += 1
                self.errors.append(f"wrong result on op {self.tracer.op}")
                return None
        if measured:
            self.latencies.append(took)
            self.cpu_times.append(cpu)
            self.busy_s += took
            self.cpu_busy_s += cpu
            self.rows += rows
        return out

    def window_open(self, started: float) -> bool:
        """Whether to start another whole unit (a round of queries, a
        compaction cycle): units run until ``seconds`` have passed."""
        return time.perf_counter() - started < self.seconds


def canon(rows, cols) -> list[str]:
    """Order-insensitive form of a result: columns sorted by name,
    rows rendered with ``repr`` and sorted."""
    order = sorted(range(len(cols)), key=lambda j: cols[j])
    return sorted("|".join(repr(r[i]) for i in order) for r in rows)


def duck_oracle(sql: str, tables: dict[str, str]) -> list[str]:
    import duckdb

    con = duckdb.connect()
    try:
        for name, path in tables.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        cur = con.execute(sql)
        return canon(cur.fetchall(), [d[0] for d in cur.description])
    finally:
        con.close()


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# --------------------------------------------------------------------
# analytics
# --------------------------------------------------------------------

ANALYTICS_QUERIES = [
    "q1_pricing_summary", "q2_min_cost_supplier", "q3_shipping_priority",
    "q4_order_priority", "q5_local_supplier_volume", "q6_forecast_revenue",
    "q7_volume_shipping", "q8_market_share", "q9_product_profit",
    "q10_returned_items", "q11_important_parts", "q12_late_shipment_priority",
    "q13_customer_distribution", "q14_promo_revenue", "q15_top_supplier",
    "q16_supplier_part_count", "q17_small_qty_revenue",
    "q18_large_volume_customer", "q19_disjunctive_revenue",
    "q20_excess_shippers", "q21_waiting_suppliers",
    "q22_global_sales_opportunity",
]


def prepare_analytics(run: Run) -> dict:
    from etl_pulumi_aws_snowflake_spark.queries import ORACLES

    sf_dir = os.path.join(run.work, "tpch")
    tables = gen.tpch_tables(run.seed, TPCH_SF * run.scale)
    gen.write_tables(tables, sf_dir)
    paths = {t: os.path.join(sf_dir, f"{t}.parquet") for t in tables}
    expected = {q: duck_oracle(ORACLES[q], paths) for q in ANALYTICS_QUERIES}
    rows = sum(t.num_rows for t in tables.values())
    shards = prepare_curation(run) if run.tracer.enabled else []
    return {"sf_dir": sf_dir, "expected": expected, "rows": rows, "shards": shards}


def analytics(run: Run, prep: dict, t_start: float) -> None:
    """All 22 TPC-H-shaped registry queries, each round in a seeded
    order.  An op is the registry call plus ``collect()``.  The first
    round warms up; measured rounds are whole, so every run sees the
    same query mix.  Rows are the dataset's rows, counted once per
    query answered."""
    import numpy as np
    from etl_pulumi_aws_snowflake_spark.queries import QUERIES

    sf_dir, expected = prep["sf_dir"], prep["expected"]
    tr = run.tracer
    per_query: dict[str, list[float]] = {q: [] for q in ANALYTICS_QUERIES}

    def one(q: str, measured: bool) -> None:
        def call():
            with tr.span("queries.plan"):
                df = QUERIES[q](run.spark, sf_dir)
            with tr.span("queries.exec"):
                rows = df.collect()
            return df.columns, rows

        out = run.op(call, lambda o: canon(o[1], o[0]) == expected[q], measured,
                     rows=prep["rows"])
        if out is not None and measured:
            per_query[q].append(run.latencies[-1])

    def order(r: int) -> list[str]:
        rng = np.random.default_rng([run.seed, 4, r])
        return [ANALYTICS_QUERIES[i] for i in rng.permutation(len(ANALYTICS_QUERIES))]

    for r in range(WARMUP_ROUNDS):
        for q in order(r):
            one(q, measured=False)
    run.setup_s = time.perf_counter() - t_start
    started = time.perf_counter()
    r = WARMUP_ROUNDS
    while run.window_open(started):
        for q in order(r):
            one(q, measured=True)
        r += 1
    if tr.enabled:
        for q, lat in per_query.items():
            run.layers[f"analytics.{q}_p50_s"] = median(lat)
        curation(run, prep["shards"])


# --------------------------------------------------------------------
# curation
# --------------------------------------------------------------------


def prepare_curation(run: Run) -> list:
    from etl_pulumi_aws_snowflake_spark.queries import ORACLES

    n_docs = max(int(DOCS_PER_SHARD * run.scale), 60)
    shards = []
    for s in range(DOC_SHARDS):
        d = os.path.join(run.work, f"shard{s}")
        gen.write_tables({"documents": gen.document_shard(run.seed, s, n_docs)}, d)
        oracle = duck_oracle(
            ORACLES["curation_pipeline_e2e"],
            {"documents": os.path.join(d, "documents.parquet")},
        )
        shards.append((d, n_docs, oracle))
    return shards


def curation(run: Run, shards: list) -> None:
    """Traced analytics runs only: the ``curation_pipeline_e2e``
    registry job once cold on shard 0 and once warm on shard 1 (the
    warm one is ``curation.job_s``), then the isolated stage pass."""
    from etl_pulumi_aws_snowflake_spark.queries import QUERIES

    tr = run.tracer
    jsc = run.spark.sparkContext._jsc.sc()
    for d, _, oracle in shards:

        def call():
            t0 = time.perf_counter()
            with tr.span("curation.plan"):
                df = QUERIES["curation_pipeline_e2e"](run.spark, d)
            with tr.span("curation.exec"):
                rows = df.collect()
            run.layers["curation.job_s"] = time.perf_counter() - t0
            return df.columns, rows

        run.op(call, lambda o: canon(o[1], o[0]) == oracle, measured=False,
               counts="curation.spark")
        tr.count("cache.persisted_rdds", jsc.getPersistentRDDs().size())
    stage_pass(run, shards[-1][0])


def stage_pass(run: Run, shard_dir: str) -> None:
    """Each public curation stage on its own over one shard, output
    forced with ``count()``: isolated stage costs and survivor ratios,
    with the parameters the registry job uses."""
    from pyspark.sql import functions as F
    from etl_pulumi_aws_snowflake_spark.functions import text as T
    from etl_pulumi_aws_snowflake_spark.operators import dedup as D
    from etl_pulumi_aws_snowflake_spark.operators import packing as P
    from etl_pulumi_aws_snowflake_spark.operators.decontam import contamination
    from etl_pulumi_aws_snowflake_spark.operators.quality_model import train_quality_lda
    from etl_pulumi_aws_snowflake_spark.queries.llm_sampling import hash_gate_spark

    docs = run.spark.read.parquet(os.path.join(shard_dir, "documents.parquet")).cache()
    n_docs = docs.count()
    gate10 = F.expr(hash_gate_spark("doc_id", 10))
    keep = D.exact_dedup(docs).select(F.col("keep_id").alias("doc_id")).cache()
    deduped = docs.join(keep, "doc_id").cache()
    n_dedup = deduped.count()
    pairs = D.minhash_lsh_pairs(deduped, k=3, num_hashes=16, bands=8, threshold=0.8).cache()
    train, bench = docs.filter(~gate10).cache(), docs.filter(gate10).cache()
    toks = docs.select("doc_id", F.expr(T.token_count_regex().spark).alias("n_tokens"))
    stages = [
        ("operators.dedup.exact_dedup", n_docs,
         lambda: D.exact_dedup(docs).count()),
        ("operators.dedup.minhash_lsh_pairs", n_dedup,
         lambda: D.minhash_lsh_pairs(deduped, k=3, num_hashes=16, bands=8,
                                     threshold=0.8).count()),
        ("operators.dedup.dedup_survivors", n_dedup,
         lambda: D.dedup_survivors(deduped, pairs).filter(~F.col("is_dup")).count()),
        ("operators.quality_model.train_quality_lda", n_docs,
         lambda: len(train_quality_lda(docs))),
        ("operators.decontam.contamination", train.count(),
         lambda: contamination(train, bench, k=5).count()),
        ("operators.packing.pack_chunks", n_docs,
         lambda: P.pack_chunks(toks, 512, size_col="n_tokens", id_col="doc_id").count()),
    ]
    for name, rows_in, fn in stages:
        t0 = time.perf_counter()
        with run.tracer.span(name):
            rows_out = fn()
        run.layers[f"{name}_s"] = time.perf_counter() - t0
        run.layers[f"{name}_rows_in"] = rows_in
        run.layers[f"{name}_rows_out"] = rows_out
        run.layers[f"{name}_survivors"] = rows_out / rows_in if rows_in else 0.0
    for df in (docs, keep, deduped, pairs, train, bench):
        df.unpersist()


# --------------------------------------------------------------------
# ingest
# --------------------------------------------------------------------

_CHECKSUM = (
    "crc32(concat_ws('|', cast(customerid as string), cast(namestyle as string), "
    "title, firstname, middlename, lastname, suffix, companyname, salesperson, "
    "emailaddress, phone, passwordhash, passwordsalt, rowguid, "
    "cast(unix_micros(modifieddate) as string), cast(c_nationkey as string)))"
)


def _schemas():
    from pyspark.sql import types as T
    from etl_pulumi_aws_snowflake_spark.schemas import CUSTOMERS

    table = T.StructType(CUSTOMERS.fields + [T.StructField("c_nationkey", T.IntegerType())])
    source = T.StructType(table.fields + [T.StructField("isdeleted", T.BooleanType())])
    return table, source


def prepare_ingest(run: Run) -> dict:
    stream = gen.IngestStream(
        run.seed,
        max(int(INGEST_KEYS * run.scale), 200),
        max(int(INGEST_ROWS * run.scale), 20),
    )
    return {"stream": stream}


def ingest(run: Run, prep: dict, t_start: float) -> None:
    """CDC CSV files land one at a time and go through the reference
    pipeline into a merge-on-read warehouse table; each op ends with a
    verifying read.  Every ``COMPACT_EVERY`` files the table is
    compacted; compaction counts toward throughput but not latency."""
    from pyspark.sql import functions as F
    from etl_pulumi_aws_snowflake_spark.operators import align
    from etl_pulumi_aws_snowflake_spark.pipeline import write_json
    from etl_pulumi_aws_snowflake_spark.sources.csv import ingest_csv
    from etl_pulumi_aws_snowflake_spark.streaming import mor

    spark, tr = run.spark, run.tracer
    stream: gen.IngestStream = prep["stream"]
    table_schema, source_schema = _schemas()
    landing = os.path.join(run.work, "landing")
    json_root = os.path.join(run.work, "json")
    root = os.path.join(run.work, "warehouse")
    os.makedirs(landing)

    init = spark.createDataFrame(
        stream.initial(),
        "customerid long, namestyle boolean, title string, firstname string, "
        "middlename string, lastname string, suffix string, companyname string, "
        "salesperson string, emailaddress string, phone string, passwordhash string, "
        "passwordsalt string, rowguid string, modifieddate long, c_nationkey int",
    ).withColumn("modifieddate", F.timestamp_micros("modifieddate"))
    mor.mor_init(init.select(table_schema.fieldNames()), root, "c_nationkey", ["customerid"])

    csv_bytes = 0

    def land_one(measured: bool) -> None:
        nonlocal csv_bytes
        text, n = stream.next_file()
        i = stream.files
        path = os.path.join(landing, f"customers_{i:05d}.csv")
        with open(path, "w") as f:
            f.write(text)
        csv_bytes += len(text)
        json_dir = os.path.join(json_root, f"{i:05d}")
        want = stream.checksum()

        def call():
            with tr.span("sources.csv.ingest_csv"):
                df = ingest_csv(spark, path, infer=True)
            with tr.span("pipeline.write_json"):
                write_json(df, json_dir)
            with tr.span("pipeline.read_json"):
                loaded = spark.read.json(json_dir)
            with tr.span("operators.align"):
                src = align(loaded, source_schema)
            with tr.span("streaming.mor.merge"):
                mor.mor_merge(spark, root, src, ["customerid"], delete_col="isdeleted")
            with tr.span("streaming.mor.read"):
                got = mor.mor_read(spark, root).agg(
                    F.count("*"), F.sum(F.expr(_CHECKSUM))
                ).first()
            return tuple(got)

        if tr.enabled:
            tr.count("streaming.mor.pending_batches", len(mor.mor_pending_batches(root)))
        run.op(call, lambda got: (got[0], got[1] or 0) == want, measured, rows=n)
        if tr.enabled:
            tr.count("pipeline.json_bytes_per_row", _dir_bytes(json_dir) / n)

    def compact(measured: bool) -> None:
        run.attempted += 1
        cpu0 = run.cpu()
        t0 = time.perf_counter()
        try:
            with tr.span("streaming.mor.compact"):
                mor.mor_compact(spark, root)
        except Exception:
            run.failed += 1
            run.errors.append(traceback.format_exc(limit=3))
            return
        if measured:
            run.busy_s += time.perf_counter() - t0
            run.cpu_busy_s += run.cpu() - cpu0

    def unit(files: int, measured: bool) -> None:
        for _ in range(files):
            land_one(measured)
        compact(measured)

    unit(WARMUP_FILES, measured=False)
    run.setup_s = time.perf_counter() - t_start
    started = time.perf_counter()
    while run.window_open(started):
        unit(COMPACT_EVERY, measured=True)
    stored = _dir_bytes(json_root) + _dir_bytes(root)
    run.layers["stored_bytes_per_input_byte"] = stored / csv_bytes
    run.layers["streaming.mor.table_bytes"] = _dir_bytes(root)


WORKLOADS = {
    "ingest": (prepare_ingest, ingest),
    "analytics": (prepare_analytics, analytics),
}
