"""The benchmark's workloads, run through the engine's public functions.

Each workload is closed-loop (one operation at a time) and has the same
shape: a set-up round (generate and stage the inputs from the seed, fill
the program's state, one warm-up operation) done three times and counted
at its median (``Run.setup_reps``), the expected outputs computed with
DuckDB, then whole rounds of operations for ``--seconds``, and every
operation's output checked outside the timed region.  With tracing on,
the operations run inside spans (``spans.py``) and the per-layer metrics
are read off the spans at the end; the traced ingest run also measures
the declared queries' layers and runs the python_expr row-failure
operation.
"""

from __future__ import annotations

import glob
import os
import time
from statistics import median

from pyspark.sql import functions as F

import __spark_entry__ as entry
import gen
import oracle
from fluent_plugin_record_reformer_spark import ReformContext, TransformSpec, reform
from fluent_plugin_record_reformer_spark.operators.enrich import enrich, role_dim
from fluent_plugin_record_reformer_spark.operators.parse import grok_parse
from fluent_plugin_record_reformer_spark.operators.route import write_fanout
from fluent_plugin_record_reformer_spark.plans.lineage import checkpointed_fanout, load_manifest
from fluent_plugin_record_reformer_spark.sources.tables import load_table
from fluent_plugin_record_reformer_spark.sources.transcripts import (
    transcripts_from_events,
    with_tag,
)
from spans import self_time

# The q_pipeline_e2e chain (also the scripts/run_pipeline.py transform).
GROK = "event=%{WORD:etype} value=%{NUMBER:val} props=%{GREEDYDATA:props_raw}"
SPEC = TransformSpec(
    tag="reformed.${tag_prefix[-2]}",
    record={"hostname": "${hostname}", "message": "${record['etype']} by ${record['role_kind']}"},
    remove_keys=["text", "props_raw"],
)
ROUTES = entry.E2E_ROUTES
LADDER = ("scan", "parse", "enrich", "reform", "route", "aggregate")
# Columns of each ladder rung that the rest of the chain reads.  A rung
# ends in a one-row aggregate over only these, so it computes what the
# full chain computes up to that layer and no more (Catalyst prunes the
# rest from the full chain, and a row-per-turn sink would add a cost the
# chain's own aggregate does not pay).
LIVE = {
    "scan": ("conv_id", "ts", "tag", "role", "text"),
    "parse": ("conv_id", "ts", "tag", "role", "etype", "val"),
    "enrich": ("conv_id", "ts", "tag", "etype", "val", "role_kind"),
    "reform": ("conv_id", "ts", "tag", "etype", "val", "message"),
    "route": ("conv_id", "ts", "route", "etype", "val", "message"),
}

FLAGSHIP_SF, FLAGSHIP_REPLICAS = 0.1, 8
SHARD_TURNS, SHARD_USERS, HOT_USERS, HOT_SHARE = 40_000, 600, 3, 0.3
MIX_SF, QUERY_ROUNDS = 0.01, 2
MIX = (
    "prefix_jaccard",
    "minhash_lsh_pairs",
    "gap_quantiles",
    "role_tool_matrix",
    "python_expr",
)
# The row-failure operation reads a fixed input: it fails because of the
# program, whatever the seed.
FAULT_SEED = 0
FAULT_EXPRS = {"tool_len": "tool.str.len().astype(int)"}
FAULT_ORACLE = entry.TRANSCRIPTS_CTE + (
    "SELECT conv_id, turn_idx, CAST(length(tool) AS INTEGER) AS tool_len FROM transcripts"
)

E2E = {"setup_s": "s", "op_s": "s"}
QUERY_COUNTERS = {
    "build_s": "s",
    "run_s": "s",
    "task_cpu_s": "s",
    "shuffle_mb": "MB",
    "stages": "count",
    "exchanges": "count",
    "reused_exchanges": "count",
}
PER_LAYER = {
    **{f"operators.{layer}.{m}": "s" for layer in LADDER[1:] for m in ("s", "task_cpu_s")},
    "operators.aggregate.shuffle_mb": "MB",
    "operators.chain.s": "s",
    "plans.compiler.build_s": "s",
    "sources.tables.scan_s": "s",
    "sources.transcripts.s": "s",
    "sources.transcripts.shuffle_mb": "MB",
    "operators.route.write_s": "s",
    "operators.route.files": "count",
    "operators.route.sink_bytes_per_turn": "B",
    "plans.lineage.commit_s": "s",
    "plans.lineage.overhead_s": "s",
    "plans.lineage.jobs_per_commit": "count",
    "plans.lineage.resume_s": "s",
    **{f"queries.{q}.{m}": u for q in MIX for m, u in QUERY_COUNTERS.items()},
    "functions.python_expr.rowfail_s": "s",
    "spark.gc_s": "s",
    "spark.peak_rss_mb": "MB",
    "host.calib_s": "s",
    "host.steal_pct": "%",
    "trace.overhead_s": "s",
}


def _consume(df, cols) -> int:
    """Evaluate ``cols`` of every row into a one-row result; return the
    number of rows."""
    return df.agg(F.count(F.lit(1)), F.max(F.xxhash64(*cols))).collect()[0][0]


class SpanStats:
    """Per-name medians over a traced run's spans."""

    def __init__(self, spans):
        self.spans = spans

    def _of(self, name):
        return [s for s in self.spans if s.name == name]

    def wall(self, name) -> float:
        return median([s.duration for s in self._of(name)])

    def self_s(self, name) -> float:
        return median([self_time(s, self.spans) for s in self._of(name)])

    def counter(self, name, key) -> float:
        return median([s.counters[key] for s in self._of(name)])


# --------------------------------------------------------------------------
# flagship_inmem
# --------------------------------------------------------------------------


def _prefix(run, tagged, upto: int):
    """The flagship chain over the cached transcripts, up to LADDER[upto]."""
    df = tagged
    if upto >= 1:
        df = grok_parse(df, GROK, types={"val": "double"})
    if upto >= 2:
        df = enrich(df, role_dim(run.spark), on="role")
    if upto >= 3:
        with run.tracer.span("plans.compiler.build"):
            df = reform(df, SPEC, ReformContext(hostname=entry.HOSTNAME))
    if upto >= 4:
        df = ROUTES.assign(df)
    if upto >= 5:
        df = df.groupBy(
            "route",
            "etype",
            "message",
            (F.substring("conv_id", 6, 4).cast("int") % 8).alias("conv_bucket"),
            F.hour("ts").cast("int").alias("hour"),
        ).agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.round(F.sum("val"), 2).alias("sum_val"),
        )
    return df


def flagship_inmem(run) -> None:
    spark = run.spark

    cached = []

    def setup(rep: int):
        """Stage the input, cache its transcripts, one warm-up pass."""
        for df in cached:
            df.unpersist(blocking=True)
        events = gen.events_table(run.seed, FLAGSHIP_SF)
        path = os.path.join(run.work, f"flagship{rep}", "events.parquet")
        gen.write_parquet(gen.replicate_events(events, FLAGSHIP_REPLICAS), path)
        tagged = with_tag(transcripts_from_events(spark.read.parquet(path))).cache()
        tagged.count()
        cached[:] = [tagged]
        _prefix(run, tagged, len(LADDER) - 1).toPandas()
        return path, tagged

    path, tagged = run.setup_reps(setup)
    sql = entry.oracle_sql()["pipeline_e2e"]
    con = oracle.connect({"events": path})
    want = run.untimed(lambda: oracle.expected(con, sql))

    if not run.traced:

        def one_pass():
            t = time.perf_counter()
            got = _prefix(run, tagged, len(LADDER) - 1).toPandas()
            run.op_times.append(time.perf_counter() - t)
            run.op(oracle.same(got, want))

        run.timed_loop(one_pass)
        return

    # Every rung but the last keeps every turn: one per generated event.
    n_turns = con.execute("SELECT count(*) FROM events").fetchone()[0]

    def ladder():
        for k, layer in enumerate(LADDER):
            with run.tracer.span(f"flagship.prefix.{layer}"):
                df = _prefix(run, tagged, k)
                if layer == "aggregate":
                    got = df.toPandas()
                else:
                    got = _consume(df, LIVE[layer])
            run.op(oracle.same(got, want) if layer == "aggregate" else got == n_turns)

    run.timed_loop(ladder)
    st = SpanStats(run.tracer.spans)
    for prev, layer in zip(LADDER, LADDER[1:]):
        a, b = f"flagship.prefix.{prev}", f"flagship.prefix.{layer}"
        run.layer[f"operators.{layer}.s"] = st.self_s(b) - st.self_s(a)
        run.layer[f"operators.{layer}.task_cpu_s"] = st.counter(b, "task_cpu_s") - st.counter(
            a, "task_cpu_s"
        )
    run.layer["operators.aggregate.shuffle_mb"] = st.counter(
        "flagship.prefix.aggregate", "shuffle_mb"
    ) - st.counter("flagship.prefix.route", "shuffle_mb")
    run.layer["operators.chain.s"] = st.wall("flagship.prefix.aggregate")
    run.layer["plans.compiler.build_s"] = st.wall("plans.compiler.build")


# --------------------------------------------------------------------------
# checkpointed_ingest
# --------------------------------------------------------------------------


def _transform(spark):
    """The scripts/run_pipeline.py transform: one shard of events in,
    reformed transcripts out."""

    def transform(events):
        t = with_tag(transcripts_from_events(events))
        parsed = grok_parse(t, GROK, types={"val": "double"})
        return reform(
            enrich(parsed, role_dim(spark), on="role"),
            SPEC,
            ReformContext(hostname=entry.HOSTNAME),
        )

    return transform


def _parquet_files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


def checkpointed_ingest(run) -> None:
    """Shards arrive one at a time; each arrival is one ``checkpointed_fanout``
    call over every shard so far (the scripts/run_pipeline.py shape).  A
    last call over all shards must process none.  Traced, each arrival is
    preceded by a ladder on the new shard (scan, + transcripts derivation,
    the transformed shard's ``write_fanout`` without lineage), each rung
    checked too, and the run ends with the query layers of
    ``query_layers``."""
    spark, transform = run.spark, _transform(run.spark)

    def shard(i: int, d: str) -> str:
        table = gen.event_shard(run.seed, i, SHARD_TURNS, SHARD_USERS, HOT_USERS, HOT_SHARE)
        return gen.write_parquet(table, f"{d}/part-{i}.parquet")

    shard_dir, warm = os.path.join(run.work, "shards"), []

    def setup(rep: int):
        """Stage one shard; one warm-up arrival, into a sink of its own."""
        warm.append(shard(rep, shard_dir))
        checkpointed_fanout(
            spark, warm, transform, ROUTES,
            os.path.join(run.work, "warm-out"), os.path.join(run.work, "warm-manifest"),
        )

    run.setup_reps(setup)
    out_dir, manifest_dir = os.path.join(run.work, "out"), os.path.join(run.work, "manifest")
    arrived, processed, rungs = [], [], []

    def arrive():
        new = shard(len(warm) + len(arrived), shard_dir)  # arrives untimed
        arrived.append(new)
        if run.traced:
            with run.tracer.span("ingest.scan"):
                events = spark.read.parquet(new)
                scanned = _consume(events, events.columns)
            with run.tracer.span("ingest.transcripts"):
                tagged = with_tag(transcripts_from_events(spark.read.parquet(new)))
                derived = _consume(tagged, tagged.columns)
            ladder_dir = os.path.join(run.work, "ladder", str(len(arrived)))
            with run.tracer.span("ingest.write"):
                write_fanout(transform(spark.read.parquet(new)), ROUTES, ladder_dir)
            rungs.append((new, scanned, derived, ladder_dir))
        with run.tracer.span("ingest.commit"):
            t = time.perf_counter()
            summary = checkpointed_fanout(spark, arrived, transform, ROUTES, out_dir, manifest_dir)
            run.op_times.append(time.perf_counter() - t)
        processed.append(summary["processed"])

    run.timed_loop(arrive)
    with run.tracer.span("ingest.resume"):
        resume = checkpointed_fanout(spark, arrived, transform, ROUTES, out_dir, manifest_dir)

    # Manifest and read-back against DuckDB's route counts, per shard.
    con = oracle.connect({})
    routes = {path: oracle.route_counts(con, path) for path in arrived}
    manifest = load_manifest(manifest_dir)
    per_batch, dups = oracle.committed(con, out_dir)
    committed_turns = 0
    for path, n in zip(arrived, processed):
        want = routes[path]
        entry_ = manifest.get(path)
        ok = n == 1 and dups == 0 and entry_ is not None
        if ok:
            got_manifest = {r: k for r, k in entry_.per_route.items() if k}
            got_back = {r: k for (b, r), k in per_batch.items() if b == entry_.batch_id}
            ok = got_manifest == want and got_back == want
            committed_turns += entry_.n_rows
        run.op(ok)
    run.op(resume["processed"] == 0 and resume["skipped"] == len(arrived))
    # The ladder rungs: every turn scanned and derived, and the fan-out's
    # read-back equal to the shard's route counts.
    for path, scanned, derived, ladder_dir in rungs:
        run.op(scanned == SHARD_TURNS)
        run.op(derived == SHARD_TURNS)
        run.op(oracle.fanout_counts(con, ladder_dir) == routes[path])
    if not run.traced:
        return

    st = SpanStats(run.tracer.spans)
    sink_bytes = sum(os.path.getsize(p) for p in _parquet_files(out_dir))
    run.layer.update(
        {
            "sources.tables.scan_s": st.wall("ingest.scan"),
            "sources.transcripts.s": st.wall("ingest.transcripts") - st.wall("ingest.scan"),
            "sources.transcripts.shuffle_mb": st.counter("ingest.transcripts", "shuffle_mb"),
            "operators.route.write_s": st.wall("ingest.write"),
            "operators.route.files": median([len(_parquet_files(r[3])) for r in rungs]),
            "operators.route.sink_bytes_per_turn": sink_bytes / max(committed_turns, 1),
            "plans.lineage.commit_s": st.wall("ingest.commit"),
            "plans.lineage.overhead_s": st.wall("ingest.commit") - st.wall("ingest.write"),
            "plans.lineage.jobs_per_commit": st.counter("ingest.commit", "jobs"),
            "plans.lineage.resume_s": st.wall("ingest.resume"),
        }
    )
    query_layers(run)


# --------------------------------------------------------------------------
# query layers (traced checkpointed_ingest runs)
# --------------------------------------------------------------------------


def _tool_len(spark, sf_dir: str):
    """Reform with a python_expr that raises on rows without a tool."""
    tagged = with_tag(transcripts_from_events(load_table(spark, sf_dir, "events")))
    spec = TransformSpec(tag="expr.${tag}", python_exprs=FAULT_EXPRS)
    out = reform(tagged, spec, ReformContext(hostname=entry.HOSTNAME))
    return out.select("conv_id", "turn_idx", F.col("tool_len").cast("int").alias("tool_len"))


def query_layers(run) -> None:
    """Declared queries at sf0.01 and the python_expr row-failure operation,
    each checked against DuckDB: one warm-up round, then ``QUERY_ROUNDS``."""
    spark, queries = run.spark, entry.queries()
    mix_dir = os.path.join(run.work, "mix")
    fault_dir = os.path.join(mix_dir, "fault")
    gen.write_parquet(gen.events_table(run.seed, MIX_SF), f"{mix_dir}/events.parquet")
    gen.write_parquet(gen.documents_table(run.seed, MIX_SF), f"{mix_dir}/documents.parquet")
    gen.write_parquet(gen.events_table(FAULT_SEED, MIX_SF), f"{fault_dir}/events.parquet")
    con = oracle.connect({t: f"{mix_dir}/{t}.parquet" for t in ("events", "documents")})
    want = {q: oracle.expected(con, entry.oracle_sql()[q]) for q in MIX}
    fault = oracle.connect({"events": f"{fault_dir}/events.parquet"})
    want_fault = oracle.expected(fault, FAULT_ORACLE)

    for q in MIX:  # warm-up round
        queries[q](spark, mix_dir).toPandas()
    _tool_len(spark, fault_dir).toPandas()
    for _ in range(QUERY_ROUNDS):
        for q in MIX:
            with run.tracer.span(f"queries.{q}.build"):
                df = queries[q](spark, mix_dir)
            with run.tracer.span(f"queries.{q}.run", census=True):
                got = df.toPandas()
            run.op(oracle.same(got, want[q]))
        with run.tracer.span("functions.python_expr.rowfail"):
            got = _tool_len(spark, fault_dir).toPandas()
        run.op(oracle.same(got, want_fault), known_fault=True)

    st = SpanStats(run.tracer.spans)
    for q in MIX:
        b, r = f"queries.{q}.build", f"queries.{q}.run"
        run.layer[f"queries.{q}.build_s"] = st.wall(b)
        run.layer[f"queries.{q}.run_s"] = st.wall(r)
        for key in ("task_cpu_s", "shuffle_mb", "stages", "exchanges", "reused_exchanges"):
            run.layer[f"queries.{q}.{key}"] = st.counter(b, key) + st.counter(r, key)
    run.layer["functions.python_expr.rowfail_s"] = st.wall("functions.python_expr.rowfail")


WORKLOADS = {"flagship_inmem": flagship_inmem, "checkpointed_ingest": checkpointed_ingest}
