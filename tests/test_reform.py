"""End-to-end reform operator tests: Spark engine vs the pure-Python
oracle of the reference semantics, over the deterministic synthetic
transcript table — routed-row equality and per-turn text equality
under stable (conv_id, turn_idx) ordering.

Mirrors the reference's option-behavior cases
(test_out_record_reformer.rb:113-204) plus the README flagship example
(README.md:23-58).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from fluent_plugin_record_reformer_spark import ReformContext, TransformSpec, reform
from fluent_plugin_record_reformer_spark.plans.spec import SpecError
from fluent_plugin_record_reformer_spark.sources.transcripts import (
    synth_transcripts,
    with_tag,
)
from tests.reference_oracle import reform_event

HOST = "testhost"
TS = dt.datetime(2010, 5, 4, 3, 2, 1)


def simple_df(spark, n=3, tag="test.tag"):
    rows = [
        Row(tag=tag, ts=TS, eventType0="bar", message=str(i)) for i in range(n)
    ]
    return spark.createDataFrame(rows)


def run_both(spark, df, spec, ctx=None, order_cols=("message",)):
    """Run Spark reform and the Python oracle; return (got, want) row
    dict lists sorted identically."""
    ctx = ctx or ReformContext(hostname=HOST)
    got = [r.asDict(recursive=True) for r in reform(df, spec, ctx).collect()]
    want = []
    for r in df.collect():
        d = r.asDict(recursive=True)
        tag, ts = d.pop("tag"), d.pop("ts")
        new_tag, new_rec = reform_event(
            spec, tag, ts.strftime("%Y-%m-%d %H:%M:%S +0000"), d, HOST
        )
        want.append({"tag": new_tag, "ts": ts, **new_rec})
    key = lambda d: tuple(str(d.get(c)) for c in order_cols)
    return sorted(got, key=key), sorted(want, key=key)


def test_simple_reform(spark):
    spec = TransformSpec(
        tag="reformed.${tag}",
        record={"hostname": "${hostname}", "input_tag": "${tag}", "message2": "${message}, yay!"},
    )
    got, want = run_both(spark, simple_df(spark), spec)
    assert got == want
    assert got[0]["tag"] == "reformed.test.tag"
    assert got[0]["message2"] == "0, yay!"


def test_remove_keys(spark):
    # test :113-124
    spec = TransformSpec(tag="reformed.${tag}", remove_keys=["eventType0", "message"])
    got, want = run_both(spark, simple_df(spark), spec, order_cols=("tag",))
    assert got == want
    assert "eventType0" not in got[0] and "message" not in got[0]


def test_renew_record(spark):
    # test :126-138
    spec = TransformSpec(tag="reformed.${tag}", renew_record=True, record={"m": "${message}"})
    got, want = run_both(spark, simple_df(spark), spec, order_cols=("m",))
    assert got == want
    assert set(got[0]) == {"tag", "ts", "m"}


def test_keep_keys(spark):
    # test :179-188
    spec = TransformSpec(tag="reformed.${tag}", renew_record=True, keep_keys=["message"])
    got, want = run_both(spark, simple_df(spark), spec)
    assert got == want
    assert set(got[0]) == {"tag", "ts", "message"}


def test_keep_keys_requires_renew(spark):
    with pytest.raises(SpecError):
        TransformSpec(tag="t", keep_keys=["message"])


def test_renew_time_key(spark):
    # test :140-177: event time := record[key].to_i; remove_keys
    # applied after (CHANGELOG 0.8.3)
    df = spark.createDataFrame(
        [Row(tag="test.tag", ts=TS, event_time_key=1354689632, message="x")]
    )
    spec = TransformSpec(
        tag="reformed.${tag}",
        renew_time_key="event_time_key",
        remove_keys=["event_time_key"],
    )
    out = reform(df, spec, ReformContext(hostname=HOST)).collect()
    assert out[0]["ts"] == dt.datetime.fromtimestamp(1354689632, dt.timezone.utc).replace(
        tzinfo=None
    )
    assert "event_time_key" not in out[0].asDict()


def test_renew_time_key_ruby_to_i_parity(spark):
    # core.rb:107 runs the field through Ruby #to_i — truncate toward
    # zero for numeric strings, leading-integer parse, 0 for garbage.
    cases = [
        ("1354689632", 1354689632),  # plain integer string
        ("123.45", 123),             # "123.45".to_i == 123
        ("-1.5", -1),                # truncate toward zero, not floor
        ("+5", 5),                   # explicit sign accepted
        ("12abc", 12),               # leading-integer parse
        ("  42", 42),                # leading whitespace skipped
        ("abc", 0),                  # "abc".to_i == 0
        ("1e3", 1),                  # "1e3".to_i == 1 — NOT 1000; String#to_i
                                     # never applies float/scientific parsing
        ("0x1A", 0),                 # no radix prefixes either
        ("Infinity", 0),             # not a leading integer → 0
        ("NaN", 0),
    ]
    df = spark.createDataFrame(
        [Row(tag="test.tag", ts=TS, k=str(i), tkey=v) for i, (v, _) in enumerate(cases)]
    )
    spec = TransformSpec(tag="t", renew_time_key="tkey")
    out = reform(df, spec, ReformContext(hostname=HOST)).collect()
    got = {r["k"]: r["ts"] for r in out}
    for i, (_, want_epoch) in enumerate(cases):
        want = dt.datetime.fromtimestamp(want_epoch, dt.timezone.utc).replace(tzinfo=None)
        assert got[str(i)] == want, f"case {cases[i][0]!r}"
    # NULL field value keeps the original time (columnar analog of
    # "key absent"; a fixed schema cannot distinguish absent from null)
    df_null = spark.createDataFrame(
        [("test.tag", TS, None)], "tag string, ts timestamp, tkey string"
    )
    out = reform(df_null, spec, ReformContext(hostname=HOST)).collect()
    assert out[0]["ts"] == TS


def test_renew_time_key_numeric_truncates(spark):
    # Numeric-typed fields keep Float#to_i semantics: truncate toward
    # zero (the string branch above must NOT apply to these).
    df = spark.createDataFrame(
        [
            Row(tag="test.tag", ts=TS, k="a", tkey=1354689632.9),
            Row(tag="test.tag", ts=TS, k="b", tkey=-1.5),
        ]
    )
    spec = TransformSpec(tag="t", renew_time_key="tkey")
    out = {r["k"]: r["ts"] for r in reform(df, spec, ReformContext(hostname=HOST)).collect()}
    assert out["a"] == dt.datetime.fromtimestamp(1354689632, dt.timezone.utc).replace(tzinfo=None)
    assert out["b"] == dt.datetime.fromtimestamp(-1, dt.timezone.utc).replace(tzinfo=None)


def test_renew_time_key_from_spec_field(spark):
    # renew_time_key may read a field the spec itself added
    df = simple_df(spark, n=1)
    spec = TransformSpec(
        tag="t",
        record={"t2": "1354689632"},
        renew_time_key="t2",
        remove_keys=["t2"],
    )
    out = reform(df, spec, ReformContext(hostname=HOST)).collect()
    assert out[0]["ts"].year == 2012


def test_placeholder_output_keys(spark):
    # test :385-403: ${hostname} / foo.${tag} as output FIELD NAMES
    spec = TransformSpec(
        tag="reformed",
        renew_record=True,
        record={"${hostname}": "hostname", "foo.${tag}": "tag"},
    )
    ctx = ReformContext(hostname=HOST, static_tag="test.tag")
    out = reform(simple_df(spark), spec, ctx).collect()
    d = out[0].asDict()
    assert d[HOST] == "hostname"
    assert d["foo.test.tag"] == "tag"


def test_dynamic_output_key_raises(spark):
    spec = TransformSpec(tag="t", record={"${message}": "v"})
    with pytest.raises(SpecError):
        reform(simple_df(spark), spec, ReformContext(hostname=HOST))


def test_null_tag_drops_event(spark):
    # test :568-578: expansion failure → nil tag → event dropped
    df = simple_df(spark, n=2)
    spec = TransformSpec(tag="${unknown_field}", auto_typecast=True)
    out = reform(df, spec, ReformContext(hostname=HOST))
    assert out.count() == 0


def test_python_expr_field(spark):
    # enable_ruby analog: vectorized expression over Arrow batches
    df = simple_df(spark, n=3)
    spec = TransformSpec(
        tag="reformed.${tag}",
        python_exprs={"msg_twice": "message.astype(int) * 2"},
    )
    out = {r["message"]: r["msg_twice"] for r in reform(df, spec, ReformContext(hostname=HOST)).collect()}
    assert out == {"0": "0", "1": "2", "2": "4"}


def test_python_expr_failure_yields_null(spark):
    # core.rb:315-319: eval failure → field nil, event still emitted
    df = simple_df(spark, n=2)
    spec = TransformSpec(tag="t", python_exprs={"bad": "does_not_exist + 1"})
    rows = reform(df, spec, ReformContext(hostname=HOST)).collect()
    assert len(rows) == 2 and all(r["bad"] is None for r in rows)


def test_python_expr_nulls_only_failing_rows_at_any_batch_size(spark):
    # core.rb:315-319 nils the failing event only: the row whose value
    # is null raises in astype(int), the rest keep their values, and
    # the answer is the same whether Arrow cuts 2 rows or all 8 into
    # one batch
    df = spark.createDataFrame(
        [(i, None if i == 2 else i) for i in range(8)], "id int, value long"
    ).coalesce(1)
    df = df.withColumn("tag", F.lit("t")).withColumn("ts", F.lit(TS))
    spec = TransformSpec(tag="t", python_exprs={"as_int": "value.astype(int)"})
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    got = {}
    try:
        for size in (2, 10000):
            spark.conf.set(key, str(size))
            out = reform(df, spec, ReformContext(hostname=HOST))
            got[size] = sorted((r["id"], r["as_int"]) for r in out.collect())
    finally:
        spark.conf.set(key, old)
    want = [(i, None if i == 2 else str(i)) for i in range(8)]
    assert got[2] == got[10000] == want


def test_transcript_pipeline_golden(spark):
    """Flagship: synthetic transcripts → tag → README-example spec;
    per-turn text equality under (conv_id, turn_idx) ordering vs the
    Python oracle."""
    tr = with_tag(synth_transcripts(spark, n_convs=40, seed=7)).cache()
    spec = TransformSpec(
        tag="reformed.${tag_prefix[-2]}",
        record={
            "hostname": "${hostname}",
            "input_tag": "${tag}",
            "last_tag": "${tag_parts[-1]}",
            "message": "${record['text']}, yay!",
        },
        remove_keys=["text"],
    )
    ctx = ReformContext(hostname=HOST)
    got = [
        r.asDict()
        for r in reform(tr, spec, ctx).orderBy("conv_id", "turn_idx").collect()
    ]
    want = []
    for r in tr.orderBy("conv_id", "turn_idx").collect():
        d = r.asDict()
        tag, ts = d.pop("tag"), d.pop("ts")
        new_tag, new_rec = reform_event(
            spec, tag, ts.strftime("%Y-%m-%d %H:%M:%S +0000"), d, HOST
        )
        want.append({"tag": new_tag, "ts": ts, **new_rec})
    assert got == want
    assert got[0]["tag"].startswith("reformed.transcripts.")
    assert got[0]["message"].endswith(", yay!")


def test_tag_expr_failure_drops_event(spark):
    # reference test :568-578: a tag template whose (ruby) expansion
    # fails drops the event entirely — never emitted with a bad tag
    df = simple_df(spark)
    spec = TransformSpec(tag_python_expr="unknown_column + 1")
    out = reform(df, spec, ReformContext(hostname=HOST))
    assert out.count() == 0


def test_tag_expr_conditional_rewrite(spark):
    # tag from an expression over tag_parts (the enable_ruby tag path,
    # core.rb:80): last part routes, 'tag' alternatives verified
    df = spark.createDataFrame(
        [
            Row(tag="test.a", ts=TS, message="m1"),
            Row(tag="test.b", ts=TS, message="m2"),
        ]
    )
    spec = TransformSpec(
        tag_python_expr="('kept.' + tag_parts.str[-1]).mask(tag_parts.str[-1] == 'b')"
    )
    rows = reform(df, spec, ReformContext(hostname=HOST)).collect()
    assert [(r["tag"], r["message"]) for r in rows] == [("kept.a", "m1")]


def test_tag_requires_exactly_one_source():
    with pytest.raises(SpecError):
        TransformSpec()
    with pytest.raises(SpecError):
        TransformSpec(tag="t", tag_python_expr="tag")
