"""The benchmark's workloads: which operations a pass runs, how each is
timed, and how each is checked against a reference.

An operation is one catalog key (builder + ``noop`` write), one
MapReduce job (``mr.run_job`` / ``run_mrjob`` / ``run_pipeline``, output
collected) or one stream drain (a staged backlog drained through a
``noop`` sink). Every operation also has an untimed check: catalog keys
against their registry DuckDB oracle, MR jobs against a DuckDB answer,
the stream against its batch twin over the same rows.
"""

from __future__ import annotations

import math
import shutil
from collections.abc import Callable
from dataclasses import dataclass
from functools import partial
from itertools import islice
from pathlib import Path

from pyspark.sql import functions as F

from mapreducepy_spark import mr
from mapreducepy_spark.io import TABLES, load
from mapreducepy_spark.registry import load_catalog
from mapreducepy_spark.session_cache import fill_log
from mapreducepy_spark.streaming import windows as sw
from tests.parity_util import assert_frames_match

# Catalog keys from the operators, functions and sources packages:
# Catalyst plans, parquet scans, shuffles and a bucketed warehouse
# write (join_bucketed), scalar functions (fn_string) and a CSV source
# written and re-read per call (csv_quarantine). session_cache, the
# Python boundary, mr and streaming stay idle.
RELATIONAL_KEYS = (
    "scan_count", "agg_group", "agg_minmax_by", "join_inner",
    "join_bucketed", "win_rank", "sort_limit", "fn_string", "csv_quarantine",
)

# LLM keys filling session_cache artifacts (the dedup funnel's shingle
# -> minhash -> candidate -> cluster chain, the IVF quantizer and corpus
# broadcasts, the text family's term table) and running mapInPandas
# kernels; the MR jobs and the stream drain run beside them.
LLM_KEYS = (
    "dedup_cluster_histogram", "sim_ann_ivf", "text_tfidf",
    "multimodal_decode_stats",
)

# MR jobs read every sixth order's lines (about 10k of sf0.01's 60k
# rows): enough rows that per-row Python cost shows in every job, few
# enough that a pass stays near the other workloads' pass length.
LINEITEM_SLICE = "l_orderkey % 6 = 0"
FLOAT_REL_TOL = 1e-9
TOP_ORDERS = 5


# The stream drains the smallest fixture's events, sorted by event
# time and split into STREAM_FILES files read one per micro-batch.
# State-store commits over the shuffle partitions, more than rows, set
# a micro-batch's cost (ten times the rows cost well under twice the
# time), so the small backlog keeps the per-batch work while the drain
# stays short.
STREAM_SCALE = "sf0.001"
STREAM_FILES = 2
STREAM_TIMEOUT_S = 120


@dataclass
class Ctx:
    spark: object
    sf_dir: str
    duck: object     # DuckDB connection with the fixture views
    tracer: object
    work: str = ""   # the run's scratch directory
    stream_sf_dir: str = ""


@dataclass
class Op:
    """One operation. ``run`` is timed and returns layer extras; the
    untimed check compares ``actual`` (Spark) with ``reference``
    (DuckDB, given a cursor) and ``compare`` returns None when they
    agree, else what differs."""

    name: str
    kind: str                               # "key" | "mr"
    run: Callable[[Ctx], dict]
    actual: Callable[[Ctx], object]
    reference: Callable[[object], object]
    compare: Callable[[object, object], str | None]


def open_duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        if not Path(f"{sf_dir}/{t}.parquet").is_file():
            continue  # a fixture holds only the tables its workload reads
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    con.execute(f"CREATE VIEW lineitem_slice AS SELECT * FROM lineitem WHERE {LINEITEM_SLICE}")
    return con


# ---------------------------------------------------------------- keys

def _key_op(name: str, query) -> Op:
    def run(ctx: Ctx) -> dict:
        n0 = len(fill_log())
        with ctx.tracer.span("registry.builder", key=name) as sp:
            df = query.builder(ctx.spark, ctx.sf_dir)
        fills = sum(f["sec"] for f in fill_log()[n0:])
        with ctx.tracer.span("sql.action"):
            df.write.format("noop").mode("overwrite").save()
        if sp is None:
            return {}
        builder_s = sp.end - sp.start
        return {"registry.builder_s": builder_s, "registry.builder_self_s": builder_s - fills}

    def actual(ctx: Ctx):
        return query.builder(ctx.spark, ctx.sf_dir).toPandas()

    def reference(cur):
        return cur.execute(query.oracle).fetchdf()

    if query.oracle is None:
        raise ValueError(f"catalog key {name!r} has no DuckDB oracle to check it against")
    return Op(name, "key", run, actual, reference, partial(_same_frame, name=name))


def _same_frame(got, want, name: str) -> str | None:
    try:
        assert_frames_match(got, want, name)
    except AssertionError as e:
        return str(e)
    return None


# ----------------------------------------------------------------- MR
# Mapper/reducer functions live at module level so Python workers
# import them by name (workers get the repo root on PYTHONPATH).

def _q1_map(_, r):
    if r.ship <= "1998-09-02":
        disc = r.l_extendedprice * (1 - r.l_discount)
        yield (r.l_returnflag, r.l_linestatus), (
            1, r.l_quantity, r.l_extendedprice, disc, disc * (1 + r.l_tax),
        )


def _tuple_add(a, b):
    return tuple(x + y for x, y in zip(a, b))


class WordCount(mr.MRJob):
    combiner_defined = True

    def mapper(self, _, row):
        for tok in (row.text or "").split(" "):
            if tok:
                yield tok, 1

    def combiner(self, word, counts):
        yield word, sum(counts)

    def reducer(self, word, counts):
        yield word, sum(counts)


def _tag_row(_, r):
    yield r.k, (r.tag, r.s)


def _join_order_lines(orderkey, values):
    priority, n_lines = None, 0
    for tag, s in values:
        if tag == "O":
            priority = s
        else:
            n_lines += 1
    if priority is not None and n_lines:
        yield orderkey, (priority, n_lines)


class OrdersJoin(mr.MRJob):
    """Reduce-side join: a map-only step tags each row with its order,
    then a groupByKey reduce pairs every order with its lines."""

    def steps(self):
        return [mr.MRStep(mapper=_tag_row), mr.MRStep(reducer=_join_order_lines)]


def _by_priority(orderkey, joined):
    priority, n_lines = joined
    yield priority, (-n_lines, orderkey)


def _sort_key(v):
    return v


def _busiest_orders(priority, values):
    yield priority, tuple(orderkey for _, orderkey in islice(values, TOP_ORDERS))


class BusiestOrders(mr.MRJob):
    """Secondary sort: each priority's orders reach the reducer sorted
    by line count (descending), then order key."""

    def steps(self):
        return [mr.MRStep(mapper=_by_priority, reducer=_busiest_orders, sort_values_by=_sort_key)]


def _lineitem(ctx: Ctx):
    return load(ctx.spark, ctx.sf_dir, "lineitem").where(LINEITEM_SLICE)


def _mr_q1(ctx: Ctx):
    li = _lineitem(ctx).withColumn("ship", F.date_format("l_shipdate", "yyyy-MM-dd"))
    return mr.run_job(ctx.spark, li, _q1_map, None, associative_reduce=_tuple_add)


def _mr_wordcount(ctx: Ctx):
    return mr.run_mrjob(ctx.spark, WordCount(), load(ctx.spark, ctx.sf_dir, "documents"))


def _mr_join_pipeline(ctx: Ctx):
    orders = load(ctx.spark, ctx.sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), F.lit("O").alias("tag"),
        F.col("o_orderpriority").alias("s"),
    )
    lines = _lineitem(ctx).select(
        F.col("l_orderkey").alias("k"), F.lit("L").alias("tag"), F.lit(None).cast("string").alias("s"),
    )
    return mr.run_pipeline(ctx.spark, orders.unionByName(lines), OrdersJoin(), BusiestOrders())


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(a, b, rel_tol=FLOAT_REL_TOL)
    return a == b


def _same_pairs(got: dict, want: dict) -> str | None:
    if got.keys() != want.keys():
        return f"{len(got.keys() ^ want.keys())} keys differ"
    for k, w in want.items():
        g = got[k]
        gs, ws = (g, w) if isinstance(w, tuple) else ((g,), (w,))
        if len(gs) != len(ws) or not all(_close(x, y) for x, y in zip(gs, ws)):
            return f"key {k!r}: {g!r} != {w!r}"
    return None


_MR_ANSWERS = {
    "mr_q1_pricing": (
        "SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity), "
        "sum(l_extendedprice), sum(l_extendedprice * (1 - l_discount)), "
        "sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) FROM lineitem_slice "
        "WHERE strftime(l_shipdate, '%Y-%m-%d') <= '1998-09-02' GROUP BY 1, 2",
        lambda r: ((r[0], r[1]), tuple(r[2:])),
    ),
    "mr_wordcount": (
        "SELECT tok, count(*) FROM (SELECT unnest(string_split(text, ' ')) AS tok "
        "FROM documents WHERE text IS NOT NULL) WHERE tok <> '' GROUP BY tok",
        lambda r: (r[0], r[1]),
    ),
    "mr_join_pipeline": (
        "WITH j AS (SELECT o_orderkey, o_orderpriority, count(*) AS n FROM orders "
        "JOIN lineitem_slice ON o_orderkey = l_orderkey GROUP BY 1, 2), "
        "r AS (SELECT o_orderpriority, o_orderkey, row_number() OVER (PARTITION BY "
        "o_orderpriority ORDER BY n DESC, o_orderkey) AS rn FROM j) "
        f"SELECT o_orderpriority, list(o_orderkey ORDER BY rn) FROM r WHERE rn <= {TOP_ORDERS} "
        "GROUP BY 1",
        lambda r: (r[0], tuple(r[1])),
    ),
}

_MR_JOBS = {
    "mr_q1_pricing": _mr_q1,
    "mr_wordcount": _mr_wordcount,
    "mr_join_pipeline": _mr_join_pipeline,
}


def _mr_op(name: str, job: Callable) -> Op:
    last: dict = {}

    def run(ctx: Ctx) -> dict:
        with ctx.tracer.span("mr.job", job=name):
            last["pairs"] = job(ctx).collect()
        return {}

    def actual(ctx: Ctx):
        # the output of the last timed run: a job's output is what its
        # user collects, so the check needs no extra run
        return dict(last["pairs"])

    def reference(cur):
        sql, to_pair = _MR_ANSWERS[name]
        return dict(to_pair(r) for r in cur.execute(sql).fetchall())

    return Op(name, "mr", run, actual, reference, _same_pairs)


# ------------------------------------------------------------- stream

def stage_backlog(stream_sf_dir: str, work: str) -> str:
    """Write the stream's backlog (untimed): the events table sorted by
    event time and split into STREAM_FILES parquet files, so no row is
    behind the watermark when its micro-batch runs."""
    import pyarrow.parquet as pq

    table = pq.read_table(f"{stream_sf_dir}/events.parquet").sort_by("ts")
    out = Path(work) / "stream" / "backlog"
    out.mkdir(parents=True, exist_ok=True)
    step = -(-table.num_rows // STREAM_FILES)
    for i in range(STREAM_FILES):
        pq.write_table(table.slice(i * step, step), out / f"part-{i:03d}.parquet")
    return str(out)


def _stream_metrics(progress: list[dict]) -> dict:
    """Streaming layer metrics of one drain, from the query's progress
    reports: durations summed over micro-batches, state size after the
    last one."""
    def dur(p, key):
        return float(p["durationMs"].get(key, 0))

    last_state = progress[-1]["stateOperators"] if progress else []
    return {
        "streaming.add_batch_ms": sum(dur(p, "addBatch") for p in progress),
        "streaming.get_batch_ms": sum(dur(p, "getBatch") for p in progress),
        "streaming.query_planning_ms": sum(dur(p, "queryPlanning") for p in progress),
        "streaming.wal_commit_ms": sum(dur(p, "walCommit") for p in progress),
        "streaming.state_rows": float(sum(o["numRowsTotal"] for o in last_state)),
        "streaming.state_memory_bytes": float(sum(o["memoryUsedBytes"] for o in last_state)),
    }


def _stream_op() -> Op:
    """``tumbling_counts`` over a watermarked file stream, drained with
    ``Trigger.AvailableNow`` one backlog file per micro-batch. Each
    drain starts from a fresh checkpoint, so it replays the whole
    backlog and commits state and offsets for every batch."""
    name = "stream_tumbling"
    drains = [0]

    def backlog(ctx: Ctx) -> str:
        return str(Path(ctx.work) / "stream" / "backlog")

    def run(ctx: Ctx) -> dict:
        drains[0] += 1
        ckpt = Path(ctx.work) / "stream" / f"ckpt-{drains[0]}"
        events = sw.read_events_stream(ctx.spark, backlog(ctx), max_files_per_trigger=1)
        with ctx.tracer.span("streaming.drain"):
            q = (
                sw.tumbling_counts(sw.with_watermark(events))
                .writeStream.format("noop").outputMode("complete")
                .option("checkpointLocation", str(ckpt))
                .trigger(availableNow=True).start()
            )
            try:
                if not q.awaitTermination(STREAM_TIMEOUT_S):
                    raise TimeoutError(f"{name} did not drain within {STREAM_TIMEOUT_S}s")
            finally:
                q.stop()
        progress = q.recentProgress
        shutil.rmtree(ckpt, ignore_errors=True)
        if len(progress) != STREAM_FILES:
            raise AssertionError(f"{name}: {len(progress)} micro-batches, expected {STREAM_FILES}")
        return _stream_metrics(progress)

    def actual(ctx: Ctx):
        events = sw.read_events_stream(ctx.spark, backlog(ctx), max_files_per_trigger=1)
        got = sw.run_available_now(
            sw.tumbling_counts(sw.with_watermark(events)), "perfbench_stream_tumbling", ctx.spark
        ).toPandas()
        want = sw.tumbling_counts(load(ctx.spark, ctx.stream_sf_dir, "events")).toPandas()
        return got, want

    def reference(_cur):
        return None  # the reference is the batch twin, computed in actual()

    def compare(got_want, _ref) -> str | None:
        got, want = got_want
        return _same_frame(got, want, name)

    return Op(name, "stream", run, actual, reference, compare)


# ----------------------------------------------------------- workloads

WORKLOADS = ("relational", "llm-mr-stream")

# Fixture each workload reads (a directory under perfbench/fixtures).
SCALE = {"relational": "sf0.1", "llm-mr-stream": "sf0.01"}

# Unreported passes between the cold pass and the steady passes. JIT
# compilation keeps speeding passes up after the cold pass: relational
# passes (planning-heavy) for several passes, llm-mr-stream passes
# (executor- and Python-bound) mostly in the first two. A count, not a
# time, so a run slowed by other load on the machine still starts its
# steady passes at the same point of JIT progress.
WARMUP_PASSES = {"relational": 5, "llm-mr-stream": 1}


def build_ops(workload: str, ctx: Ctx) -> list[Op]:
    """The workload's operations in their fixed base order (the seed
    permutes them per pass)."""
    if workload == "relational":
        catalog = load_catalog()
        return [_key_op(k, catalog[k]) for k in RELATIONAL_KEYS]
    if workload == "llm-mr-stream":
        catalog = load_catalog()
        return (
            [_key_op(k, catalog[k]) for k in LLM_KEYS]
            + [_mr_op(n, j) for n, j in _MR_JOBS.items()]
            + [_stream_op()]
        )
    raise ValueError(f"unknown workload {workload!r}; expected one of {WORKLOADS}")
