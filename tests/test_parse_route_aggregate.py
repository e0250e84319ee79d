"""Tests for the parse / enrich / route / aggregate stages."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from fluent_plugin_record_reformer_spark.operators.aggregate import (
    per_sink_counts,
    salted_agg,
)
from fluent_plugin_record_reformer_spark.operators.enrich import enrich, role_dim
from fluent_plugin_record_reformer_spark.operators.parse import (
    grok_parse,
    grok_to_regex,
    pandas_regex_parse,
    regex_parse,
)
from fluent_plugin_record_reformer_spark.operators.route import (
    UNMATCHED,
    Route,
    RouteTable,
    glob_to_regex,
    write_fanout,
)
from fluent_plugin_record_reformer_spark.sources.transcripts import (
    synth_transcripts,
    with_tag,
)

TS = dt.datetime(2024, 1, 1, 12, 0, 0)


# ------------------------------------------------------------------ parse


def test_grok_to_regex():
    rx, fields = grok_to_regex("event=%{WORD:etype} value=%{NUMBER:val}")
    assert fields == ["etype", "val"]
    assert rx == r"event=(\w+) value=([+-]?\d+(?:\.\d+)?)"


def test_regex_parse_native(spark):
    df = spark.createDataFrame(
        [Row(text="event=view value=1.5 props={}"), Row(text="garbage")]
    )
    out = regex_parse(
        df,
        r"event=(?P<etype>\w+) value=(?P<val>[\d.]+)",
        types={"val": "double"},
    ).orderBy(F.col("etype").asc_nulls_last())
    rows = out.collect()
    assert rows[0]["etype"] == "view" and rows[0]["val"] == 1.5
    assert rows[1]["etype"] is None and rows[1]["val"] is None  # no-match → null


def test_grok_parse_matches_regex_parse(spark):
    df = spark.createDataFrame([Row(text="event=click value=2 props={\"k\": 3}")])
    a = grok_parse(df, "event=%{WORD:etype} value=%{NUMBER:val} props=%{GREEDYDATA:props_raw}")
    row = a.first()
    assert (row["etype"], row["val"], row["props_raw"]) == ("click", "2", '{"k": 3}')


def test_pandas_regex_parse_agrees_with_native(spark):
    tr = synth_transcripts(spark, n_convs=30, seed=3)
    pat = r"turn=(?P<t>\d+) role=(?P<r>\w+)"
    native = regex_parse(tr, pat).select("conv_id", "turn_idx", "t", "r")
    arrow = pandas_regex_parse(tr, pat).select("conv_id", "turn_idx", "t", "r")
    assert sorted(map(tuple, native.collect())) == sorted(map(tuple, arrow.collect()))


# ------------------------------------------------------------------ route


@pytest.mark.parametrize(
    "pattern,tag,match",
    [
        ("a.*", "a.b", True),
        ("a.*", "a", False),
        ("a.*", "a.b.c", False),
        ("a.**", "a", True),
        ("a.**", "a.b.c", True),
        ("a.**", "b.a", False),
        ("**", "anything.at.all", True),
        ("a.{b,c}.*", "a.c.x", True),
        ("a.{b,c}.*", "a.d.x", False),
        ("reformed.transcripts.*.none", "reformed.transcripts.user.none", True),
    ],
)
def test_glob_semantics(pattern, tag, match):
    import re

    assert bool(re.match(glob_to_regex(pattern), tag)) is match


def test_first_match_wins(spark):
    df = spark.createDataFrame(
        [Row(tag="app.user.x", v=1), Row(tag="app.tool.y", v=2), Row(tag="other", v=3)]
    )
    table = RouteTable(
        [Route("users", "app.user.**"), Route("everything_app", "app.**"), Route("rest", "**")]
    )
    got = {r["tag"]: r["route"] for r in table.assign(df).collect()}
    assert got == {"app.user.x": "users", "app.tool.y": "everything_app", "other": "rest"}


def test_write_fanout_single_pass(spark, tmp_path):
    tr = with_tag(synth_transcripts(spark, n_convs=50, seed=11))
    table = RouteTable(
        [
            Route("user_turns", "transcripts.user.**"),
            Route("assistant_turns", "transcripts.assistant.**"),
            Route("other_turns", "transcripts.**"),
        ]
    )
    base = str(tmp_path / "sinks")
    write_fanout(tr, table, base, mode="overwrite")
    back = spark.read.parquet(base)
    counts = {r["route"]: r["n"] for r in back.groupBy("route").agg(F.count("*").alias("n")).collect()}
    want = {r["route"]: r["n"] for r in table.assign(tr).groupBy("route").agg(F.count("*").alias("n")).collect()}
    assert counts == want
    assert set(counts) == {"user_turns", "assistant_turns", "other_turns"}
    # partition pruning: reading one route must not scan others
    one = spark.read.parquet(base).filter(F.col("route") == "user_turns")
    assert one.count() == counts["user_turns"]


def test_routed_equals_assign_then_drop_unmatched(spark):
    """``routed`` routes each row once; it keeps exactly the rows, and
    the routes, of ``assign`` followed by ``route != UNMATCHED``: first
    match wins, brace alternation expands, a null tag and a glob that
    matches nothing route nowhere, and an existing route column is
    replaced."""
    df = spark.createDataFrame(
        [
            ("app.user.x", 1, "old"),
            ("app.admin", 2, "old"),
            ("app.tool", 3, "old"),
            ("app.tool.y", 4, "old"),
            ("other", 5, "old"),
            (None, 6, "old"),
        ],
        "tag string, v int, route string",
    )
    table = RouteTable(
        [Route("users", "app.{user,admin}.**"), Route("never", "zzz.*"), Route("app", "app.*")]
    )

    def rows(frame):
        return sorted((tuple(r) for r in frame.select("tag", "v", "route").collect()), key=lambda r: r[1])

    want = table.assign(df).filter(F.col("route") != UNMATCHED)
    assert rows(table.routed(df)) == rows(want) == [
        ("app.user.x", 1, "users"),
        ("app.admin", 2, "users"),
        ("app.tool", 3, "app"),
    ]
    counts = table.routed(df).groupBy("route").count().collect()
    assert {r["route"]: r["count"] for r in counts} == {"users": 2, "app": 1}
    assert rows(table.routed(df, drop_unmatched=False)) == rows(table.assign(df))
    assert table.routed(df).columns == ["tag", "v", "route"]


# ------------------------------------------------------------------ enrich


def test_enrich_broadcast_left_join(spark):
    tr = synth_transcripts(spark, n_convs=20, seed=5)
    out = enrich(tr, role_dim(spark), on="role")
    assert out.count() == tr.count()  # left join never drops
    kinds = {r["role"]: r["role_kind"] for r in out.select("role", "role_kind").distinct().collect()}
    assert kinds["user"] == "human" and kinds["assistant"] == "model"
    # the physical plan must broadcast the dim
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# --------------------------------------------------------------- aggregate


def test_per_sink_counts_matches_plain_groupby(spark):
    tr = with_tag(synth_transcripts(spark, n_convs=60, seed=13))
    table = RouteTable([Route("u", "transcripts.user.**"), Route("rest", "**")])
    routed = table.assign(tr)
    agg = per_sink_counts(routed, n_buckets=8)
    assert agg.groupBy().sum("n_turns").first()[0] == tr.count()
    # counts within a route must equal a direct filter-count
    u_total = (
        agg.filter(F.col("route") == "u").groupBy().sum("n_turns").first()[0]
    )
    assert u_total == routed.filter(F.col("route") == "u").count()


def test_salted_agg_equals_plain(spark):
    tr = synth_transcripts(spark, n_convs=80, seed=17)
    plain = {
        (r["role"],): (r["n"], r["mx"])
        for r in tr.groupBy("role")
        .agg(F.count("*").alias("n"), F.max("turn_idx").alias("mx"))
        .collect()
    }
    salted = {
        (r["role"],): (r["n"], r["mx"])
        for r in salted_agg(
            tr, ["role"], {"n": ("count", ""), "mx": ("max", "turn_idx")}, salt_buckets=7
        ).collect()
    }
    assert plain == salted


def test_grok_pattern_definitions():
    import re as _re

    import pytest as _pytest

    # custom pattern, also overriding a builtin
    rx, fields = grok_to_regex(
        "ev=%{EVT:e} id=%{INT:i}",
        pattern_definitions={"EVT": "purchase|signup", "INT": r"\d{4}"},
    )
    assert fields == ["e", "i"]
    m = _re.match(rx, "ev=signup id=1234")
    assert m and m.group(1) == "signup" and m.group(2) == "1234"
    assert not _re.match(rx, "ev=signup id=12")  # override took effect

    # definitions referencing other patterns, nested NAMED capture order
    rx, fields = grok_to_regex(
        "%{LINE:line}",
        pattern_definitions={"LINE": r"lvl=%{LOGLEVEL:lvl} msg=%{GREEDYDATA:msg}"},
    )
    assert fields == ["line", "lvl", "msg"]
    m = _re.match(rx, "lvl=ERROR msg=boom")
    assert m.group(1) == "lvl=ERROR msg=boom"
    assert m.group(2) == "ERROR" and m.group(3) == "boom"

    # unknown pattern: error names candidates
    with _pytest.raises(ValueError, match="did you mean.*NUMBER"):
        grok_to_regex("%{NUMBRE:n}")
    # cycles raise instead of recursing forever
    with _pytest.raises(ValueError, match="cycle"):
        grok_to_regex("%{A:a}", pattern_definitions={"A": "%{B}", "B": "%{A}"})


def test_grok_parse_with_definitions(spark):
    df = spark.createDataFrame([("code=X17 n=42",), ("garbage",)], "text string")
    out = grok_parse(
        df,
        "code=%{CODE:code} n=%{INT:n}",
        types={"n": "int"},
        pattern_definitions={"CODE": "X\\d+"},
    ).collect()
    got = {r["text"]: (r["code"], r["n"]) for r in out}
    assert got["code=X17 n=42"] == ("X17", 42)
    assert got["garbage"] == (None, None)


def test_grok_base_library_breadth(spark):
    """The commonly-hit public grok base patterns parse their canonical
    sample lines end-to-end (grok -> Java regex -> regexp_extract)."""
    import re as _re

    from fluent_plugin_record_reformer_spark.operators.parse import grok_to_regex

    cases = {
        "HTTPDATE": ("10/Oct/2000:13:55:36 -0700", True),
        "PATH": ("/var/log/app-1.log", True),
        "URIPATH": ("/api/v2/users", True),
        "URI": ("https://user@example.com:8443/a/b?x=1", True),
        "EMAILADDRESS": ("ops+oncall@example.co.uk", True),
        "SYSLOGTIMESTAMP": ("Feb  5 17:32:18", True),
        "TIME": ("23:59:60.5", True),
        "MONTH": ("September", True),
        "EMAILADDRESS_bad": ("not-an-email", False),
    }
    for name, (sample, should_match) in cases.items():
        pat = name.split("_")[0]
        rx, _ = grok_to_regex(f"^%{{{pat}}}$")
        assert bool(_re.match(rx, sample)) == should_match, (name, rx)


def test_grok_combinedapachelog(spark):
    from fluent_plugin_record_reformer_spark.operators.parse import grok_parse

    line = (
        '127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] '
        '"GET /apache_pb.gif HTTP/1.0" 200 2326 '
        '"http://www.example.com/start.html" "Mozilla/4.08 [en] (Win98; I ;Nav)"'
    )
    df = spark.createDataFrame([(line,)], "text string")
    out = grok_parse(
        df,
        "%{COMBINEDAPACHELOG}",
        types={"response": "int", "bytes": "long"},
    ).collect()[0]
    assert out["clientip"] == "127.0.0.1"
    assert out["auth"] == "frank"
    assert out["timestamp"] == "10/Oct/2000:13:55:36 -0700"
    assert out["verb"] == "GET"
    assert out["request"] == "/apache_pb.gif"
    assert out["httpversion"] == "1.0"
    assert out["response"] == 200
    assert out["bytes"] == 2326
    assert out["referrer"] == '"http://www.example.com/start.html"'


def test_grok_syslogbase(spark):
    from fluent_plugin_record_reformer_spark.operators.parse import grok_parse

    line = "Feb  5 17:32:18 web01 sshd[1234]: Accepted publickey for root"
    df = spark.createDataFrame([(line,)], "text string")
    out = grok_parse(df, "%{SYSLOGBASE} %{GREEDYDATA:message}",
                     types={"pid": "int"}).collect()[0]
    assert out["timestamp"] == "Feb  5 17:32:18"
    assert out["logsource"] == "web01"
    assert out["program"] == "sshd"
    assert out["pid"] == 1234
    assert out["message"] == "Accepted publickey for root"


def test_values_dim_hostile_literals(spark):
    """String literals must survive quotes, doubled quotes, and
    trailing backslashes (Spark processes backslash escapes in SQL
    literals — an unescaped trailing backslash eats the closing quote);
    non-whitelisted types must raise, not repr into the SQL."""
    import datetime as dt

    import pytest as _pytest

    from fluent_plugin_record_reformer_spark.operators.enrich import values_dim

    hostile = [
        ("it's", 1),
        ("trailing\\", 2),
        ("quote''double", 3),
        ("semi'); DROP TABLE x; --", 4),
        (None, 5),
    ]
    got = {r["k"]: r["n"] for r in
           values_dim(spark, hostile, "k string, n int").collect()}
    assert got == {
        "it's": 1,
        "trailing\\": 2,
        "quote''double": 3,
        "semi'); DROP TABLE x; --": 4,
        None: 5,
    }
    with _pytest.raises(TypeError):
        values_dim(spark, [(object(), 1)], "k string, n int")
    with _pytest.raises(ValueError):
        values_dim(spark, [(float("inf"), 1)], "k double, n int")
    # date/datetime literals round-trip through the declared cast
    d = values_dim(
        spark,
        [(dt.date(2024, 3, 1), dt.datetime(2024, 3, 1, 12, 30, 0))],
        "d date, t timestamp",
    ).collect()[0]
    assert d["d"] == dt.date(2024, 3, 1)
    assert d["t"] == dt.datetime(2024, 3, 1, 12, 30, 0)


def test_grok_tail_patterns():
    """VERDICT r3 #7 tail of the public base set: the new patterns
    compile and match/reject their canonical shapes as plain regex."""
    import re

    from fluent_plugin_record_reformer_spark.operators.parse import grok_to_regex

    cases = {
        "%{DATESTAMP}": (["12/31/2024 23:59:59", "31.12.2024 23:59"], ["2024/31/12"]),
        "%{HOSTPORT}": (["db01.internal:5432", "10.0.0.1:80"], ["db01.internal:"]),
        "%{ISO8601_TIMEZONE}": (["Z", "+05:30", "-0800"], ["+5"]),
        "%{HTTPDUSER}": (["frank", "frank@example.com"], ["@", ""]),
        "%{BASE10NUM}": (["-3.5", ".5", "42"], ["."]),
        "%{DATESTAMP_RFC822}": (
            ["Tue Jan 21 2025 14:03:07 PST", "Wednesday Dec 3 2024 09:00 UTC"],
            ["Tue Jan 21 2025 14:03:07"],
        ),
        "%{DATESTAMP_RFC2822}": (
            ["Tue, 21 Jan 2025 14:03:07 +0100", "Fri, 1 Mar 2024 00:00 Z"],
            ["21 Jan 2025 14:03:07 +0100"],
        ),
        "%{DATESTAMP_OTHER}": (
            ["Tue Jan 21 14:03:07 PST 2025"],
            ["Tue Jan 21 14:03:07 2025"],
        ),
        "%{DATESTAMP_EVENTLOG}": (["20250121140307"], ["2025-01-21"]),
        "%{CISCOTIMESTAMP}": (["Jan 21 14:03:07", "Jan 21 2025 14:03:07"], ["Jan"]),
        "%{HTTPDERROR_DATE}": (["Tue Jan 21 14:03:07 2025"], ["Jan 21 14:03:07"]),
        "%{TTY}": (["/dev/pts/3", "/dev/tty7"], ["/dev/null"]),
    }
    for grok, (good, bad) in cases.items():
        rx, _ = grok_to_regex(grok)
        full = re.compile(rx + r"\Z")
        for s in good:
            assert full.match(s), f"{grok} should match {s!r}"
        for s in bad:
            assert not full.match(s), f"{grok} should reject {s!r}"


def test_grok_httpduser_email_auth(spark):
    """ADVICE r3: an access-log line whose auth is an email address
    must parse through the verb/request branch, not fall into
    rawrequest (the upstream HTTPDUSER = EMAILADDRESS|USER)."""
    from fluent_plugin_record_reformer_spark.operators.parse import grok_parse

    line = (
        '10.1.2.3 - frank@example.com [10/Oct/2000:13:55:36 -0700] '
        '"GET /apache_pb.gif HTTP/1.0" 200 2326'
    )
    df = spark.createDataFrame([(line,)], "text string")
    row = grok_parse(df, "%{COMMONAPACHELOG}").collect()[0]
    assert row["auth"] == "frank@example.com"
    assert row["verb"] == "GET" and row["request"] == "/apache_pb.gif"
    assert row["rawrequest"] is None


def test_grok_syslogline_both_timestamp_branches(spark):
    """%{SYSLOGLINE} admits classic and ISO8601 timestamps; exactly
    one of timestamp/timestamp8601 fills per line."""
    from fluent_plugin_record_reformer_spark.operators.parse import grok_parse

    classic = "Feb  9 13:55:36 web01 sshd[4123]: Accepted publickey for root"
    iso = "2024-02-09T13:55:36Z web01 sshd[4123]: session opened"
    df = spark.createDataFrame([(classic,), (iso,)], "text string")
    rows = {r["message"]: r for r in grok_parse(df, "%{SYSLOGLINE}").collect()}
    c = rows["Accepted publickey for root"]
    assert c["timestamp"] == "Feb  9 13:55:36" and c["timestamp8601"] is None
    assert c["logsource"] == "web01" and c["program"] == "sshd" and c["pid"] == "4123"
    i = rows["session opened"]
    assert i["timestamp"] is None and i["timestamp8601"] == "2024-02-09T13:55:36Z"


def test_values_dim_escaped_string_literals_conf(spark):
    """ADVICE r3: under spark.sql.parser.escapedStringLiterals=true the
    lexer keeps both chars of \\' and of '' in the value, so plain
    literals cannot express arbitrary strings; values_dim switches to
    unhex()-encoded strings there. The hostile set must round-trip
    identically in BOTH modes."""
    from fluent_plugin_record_reformer_spark.operators.enrich import values_dim

    hostile = [("trailing\\", 1), ("it's", 2), ("a\\'b", 3), ("q''d", 4)]
    want = {"trailing\\": 1, "it's": 2, "a\\'b": 3, "q''d": 4}
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        got = {r["k"]: r["n"] for r in
               values_dim(spark, hostile, "k string, n int").collect()}
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", "false")
    assert got == want
    got_default = {r["k"]: r["n"] for r in
                   values_dim(spark, hostile, "k string, n int").collect()}
    assert got_default == want


def test_single_pass_parity_with_multi_extract(spark):
    """single_pass=True must agree with the per-field extract path on
    matching lines, NON-matching lines (all null), lines with
    unmatched optional groups, and empty trailing groups."""
    from fluent_plugin_record_reformer_spark.operators.parse import grok_parse

    lines = [
        ('10.1.2.3 - frank [10/Oct/2000:13:55:36 -0700] '
         '"GET /a.gif HTTP/1.0" 200 2326 "http://r/" "ua/1.0"',),
        ("total garbage, no log line here",),
        # rawrequest branch: verb/request/httpversion unmatched
        ('10.9.9.9 - - [10/Oct/2000:13:55:36 -0700] "-" 400 - "-" "-"',),
        (None,),
    ]
    df = spark.createDataFrame(lines, "text string")
    slow = grok_parse(df, "%{COMBINEDAPACHELOG}").collect()
    fast = grok_parse(df, "%{COMBINEDAPACHELOG}", single_pass=True).collect()
    for a, b in zip(slow, fast):
        assert a.asDict() == b.asDict(), (a, b)


def test_single_pass_typed_casts_and_dot_semantics(spark):
    """Types cast identically, and the anchor wrapper must NOT turn on
    dotall for the user pattern — DATA/GREEDYDATA still stop at
    newlines exactly like the extract path."""
    from fluent_plugin_record_reformer_spark.operators.parse import grok_parse

    df = spark.createDataFrame(
        [("a=1 b=x\nnextline",), ("a=7 b=yz",)], "text string"
    )
    g = "a=%{INT:a} b=%{GREEDYDATA:b}"
    slow = grok_parse(df, g, types={"a": "int"}).collect()
    fast = grok_parse(df, g, types={"a": "int"}, single_pass=True).collect()
    for a, b in zip(slow, fast):
        assert a.asDict() == b.asDict(), (a, b)
    assert slow[0]["b"] == "x"  # newline not crossed


def test_grok_syslog5424(spark):
    """RFC5424 structured-syslog composite: pri/ver/ts/host/app/proc/
    msgid/sd/msg all extract; nil ('-') fields null out; works on both
    extract paths."""
    from fluent_plugin_record_reformer_spark.operators.parse import grok_parse

    lines = [
        ('<165>1 2003-10-11T22:14:15.003Z mymachine.example.com evntslog '
         '- ID47 [exampleSDID@32473 iut="3" eventSource="Application"] '
         'An application event log entry',),
        ("<34>1 - - su - - - 'su root' failed for user1",),
    ]
    df = spark.createDataFrame(lines, "text string")
    for sp in (False, True):
        rows = grok_parse(df, "%{SYSLOG5424LINE}", single_pass=sp).collect()
        full = next(r for r in rows if r["syslog5424_pri"] == "165")
        assert full["syslog5424_ver"] == "1"
        assert full["syslog5424_ts"] == "2003-10-11T22:14:15.003Z"
        assert full["syslog5424_host"] == "mymachine.example.com"
        assert full["syslog5424_app"] == "evntslog"
        assert full["syslog5424_proc"] is None and full["syslog5424_msgid"] == "ID47"
        assert full["syslog5424_sd"].startswith("[exampleSDID@32473")
        assert full["syslog5424_msg"] == "An application event log entry"
        nil = next(r for r in rows if r["syslog5424_pri"] == "34")
        assert nil["syslog5424_ts"] is None and nil["syslog5424_host"] is None
        assert nil["syslog5424_app"] == "su" and nil["syslog5424_sd"] == "-"
        assert nil["syslog5424_msg"] == "'su root' failed for user1"


def test_grok_bare_capture_group_rejected():
    """The fields<->group-number contract is asserted: a bare capture
    group smuggled in via pattern_definitions raises instead of
    silently shifting every later field."""
    import pytest as _pytest

    from fluent_plugin_record_reformer_spark.operators.parse import grok_to_regex

    with _pytest.raises(ValueError, match="bare\\s+capture group"):
        grok_to_regex(
            "%{BAD:x} %{INT:n}", pattern_definitions={"BAD": r"(a|b)c"}
        )


def test_grok_ipv6_and_mac():
    """IPv6 (all compression forms + v4-mapped) and the MAC family
    match/reject canonical shapes; IPORHOST now admits v6."""
    import re

    from fluent_plugin_record_reformer_spark.operators.parse import grok_to_regex

    cases = {
        "%{IPV6}": (
            ["2001:db8:85a3::8a2e:370:7334", "::1", "fe80::", "::",
             "::ffff:192.0.2.128", "1:2:3:4:5:6:7:8"],
            ["2001:db8", "1.2.3.4", "g::1"],
        ),
        "%{MAC}": (
            ["00:1a:2b:3c:4d:5e", "00-1A-2B-3C-4D-5E", "001a.2b3c.4d5e"],
            ["00:1a:2b:3c:4d", "zz:1a:2b:3c:4d:5e"],
        ),
        "%{IPORHOST}": (["::1", "10.0.0.1", "db01.internal"], [" "]),
    }
    for grok, (good, bad) in cases.items():
        rx, _ = grok_to_regex(grok)
        full = re.compile(rx + r"\Z")
        for s in good:
            assert full.match(s), f"{grok} should match {s!r}"
        for s in bad:
            assert not full.match(s), f"{grok} should reject {s!r}"


def test_grok_apachelog_ipv6_client(spark):
    """COMBINEDAPACHELOG parses a v6 clientip through IPORHOST."""
    from fluent_plugin_record_reformer_spark.operators.parse import grok_parse

    line = (
        '2001:db8:85a3::8a2e:370:7334 - frank [10/Oct/2000:13:55:36 -0700] '
        '"GET /a.gif HTTP/1.0" 200 2326 "http://r/" "ua/1.0"'
    )
    df = spark.createDataFrame([(line,)], "text string")
    for sp in (False, True):
        row = grok_parse(df, "%{COMBINEDAPACHELOG}", single_pass=sp).collect()[0]
        assert row["clientip"] == "2001:db8:85a3::8a2e:370:7334"
        assert row["verb"] == "GET"


def test_grok_httpd_errorlog(spark):
    """HTTPD20_ERRORLOG end-to-end: optional [client ...] segment,
    mixed-case LOGLEVEL, greedy message — fields come back typed and a
    non-matching line yields all-null containment."""
    from fluent_plugin_record_reformer_spark.operators.parse import grok_parse

    lines = [
        "[Tue Jan 21 14:03:07 2025] [error] [client 10.0.0.1] File does not exist: /var/www/x",
        "[Tue Jan 21 14:03:08 2025] [notice] caught SIGTERM, shutting down",
        "not an error log line",
    ]
    df = spark.createDataFrame([(s,) for s in lines], "text string")
    got = {
        r["message"]: r
        for r in grok_parse(df, "%{HTTPD20_ERRORLOG}", single_pass=True).collect()
    }
    e1 = got["File does not exist: /var/www/x"]
    assert (e1["timestamp"], e1["loglevel"], e1["clientip"]) == (
        "Tue Jan 21 14:03:07 2025",
        "error",
        "10.0.0.1",
    )
    e2 = got["caught SIGTERM, shutting down"]
    assert (e2["loglevel"], e2["clientip"]) == ("notice", None)
    assert None in got  # containment row: every field null


def test_grok_java_and_httpd24():
    """Java stacktrace-frame family and the 2.4-era httpd error-log
    composite match/reject canonical shapes as plain regex."""
    import re

    from fluent_plugin_record_reformer_spark.operators.parse import grok_to_regex

    cases = {
        "%{JAVACLASS}": (
            ["org.apache.spark.sql.Dataset", "Main", "com.x.Y$Inner"],
            ["org..x", ".leading"],
        ),
        "%{JAVASTACKTRACEPART}": (
            ["\tat org.example.App.run(App.java:42)",
             "  at com.x.Y.<init>(Y.java)"],
            ["at org.example.App.run(App.java:42)"],  # needs leading ws
        ),
        "%{HTTPD24_ERRORLOG}": (
            ["[Tue Jan 21 14:03:07 2025] [core:error] [pid 1234:tid 5678]"
             " [client 10.0.0.1:54321] AH00124: Request exceeded limits",
             "[Tue Jan 21 14:03:07 2025] [:warn] [pid 99] some message"],
            ["[Tue Jan 21 14:03:07 2025] [error] no pid section"],
        ),
        "%{EMAILLOCALPART}": (["john.doe", "a9+b"], ["9starts"]),
    }
    for grok, (good, bad) in cases.items():
        rx, _ = grok_to_regex(grok)
        full = re.compile(rx + r"\Z")
        for s in good:
            assert full.match(s), f"{grok} should match {s!r}"
        for s in bad:
            assert not full.match(s), f"{grok} should reject {s!r}"


def test_grok_httpd24_fields(spark):
    """HTTPD24_ERRORLOG end-to-end: module/tid/client optional parts,
    typed pid."""
    from fluent_plugin_record_reformer_spark.operators.parse import grok_parse

    lines = [
        "[Tue Jan 21 14:03:07 2025] [proxy:error] [pid 10:tid 20]"
        " [client 10.0.0.9:1234] upstream timed out",
        "[Tue Jan 21 14:03:08 2025] [:notice] [pid 11] graceful restart",
    ]
    df = spark.createDataFrame([(s,) for s in lines], "text string")
    got = {
        r["pid"]: r
        for r in grok_parse(
            df, "%{HTTPD24_ERRORLOG}", types={"pid": "long"}, single_pass=True
        ).collect()
    }
    assert got[10]["module"] == "proxy" and got[10]["clientip"] == "10.0.0.9"
    assert got[11]["module"] is None and got[11]["clientip"] is None
    assert got[11]["loglevel"] == "notice"


def test_funnel_stage_semantics(spark):
    """Hand-crafted sequences: in-order completion, out-of-order steps
    never count, repeated steps use the earliest valid occurrence,
    equal timestamps never advance (strict >), null users/timestamps
    are excluded, and an uncompleted stage reports (stage, 0) instead
    of vanishing."""
    import datetime as _dt

    from fluent_plugin_record_reformer_spark.operators.aggregate import (
        funnel_stages,
    )

    t0 = _dt.datetime(2024, 1, 1)

    def m(minutes):
        return t0 + _dt.timedelta(minutes=minutes)

    rows = [
        # u1: full funnel in order -> stage 3
        (1, m(0), "view"), (1, m(1), "click"), (1, m(2), "purchase"),
        # u2: purchase BEFORE click -> stage 2 only
        (2, m(0), "view"), (2, m(1), "purchase"), (2, m(2), "click"),
        # u3: click at the SAME instant as view -> strict > blocks it
        (3, m(0), "view"), (3, m(0), "click"),
        # u4: noise steps ignored; late click after early irrelevant one
        (4, m(5), "view"), (4, m(1), "click"), (4, m(9), "click"),
        # u5: never views -> stage 0 (no rows)
        (5, m(0), "click"), (5, m(1), "purchase"),
        # null user / null ts: excluded entirely (would otherwise
        # funnel as a phantom group / advance without an order)
        (None, m(0), "view"), (None, m(1), "click"),
        (6, None, "view"), (6, m(1), "click"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {
        r["stage"]: r["n_users"]
        for r in funnel_stages(df, ["view", "click", "purchase"]).collect()
    }
    # stage1: u1,u2,u3,u4 ; stage2: u1,u2,u4 ; stage3: u1
    assert got == {1: 4, 2: 3, 3: 1}


def test_funnel_uncompleted_stage_reports_zero(spark):
    import datetime as _dt

    from fluent_plugin_record_reformer_spark.operators.aggregate import (
        funnel_stages,
    )

    t0 = _dt.datetime(2024, 1, 1)
    rows = [(1, t0, "view"), (2, t0, "view")]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {
        r["stage"]: r["n_users"]
        for r in funnel_stages(df, ["view", "click", "purchase"]).collect()
    }
    assert got == {1: 2, 2: 0, 3: 0}


def test_grok_app_composites():
    """Application-level composites (postfix/exim/tomcat/catalina/cron,
    VERDICT r4 #8) match/reject canonical line shapes as plain regex."""
    import re

    from fluent_plugin_record_reformer_spark.operators.parse import grok_to_regex

    cases = {
        "%{POSTFIX_SMTP_DELIVERY}": (
            ["Mar 7 04:05:06 mail1 postfix/smtp[123]: 4F1A2B3C4D: "
             "to=<bob@example.com>, relay=mx.example.net[10.1.2.3]:25, "
             "delay=0.52, status=sent (250 2.0.0 OK)",
             "Jan 12 23:59:60 h postfix/qmgr[1]: NOQUEUE: "
             "to=<a@b.co>, relay=r[::1], delay=12, status=deferred"],
            ["Mar 7 04:05:06 mail1 postfix/smtp[123]: xyz: "
             "to=<bob@example.com>, relay=mx[1.2.3.4]:25, delay=1, "
             "status=sent"],  # queueid too short for either alternation
        ),
        "%{EXIMLINE}": (
            ["2024-03-07 04:05:06 1a2B3c-4D5e6F-Gh <= alice@example.org "
             "R=dnslookup T=remote_smtp S=2048",
             "2024-03-07 04:05:06 1a2B3c-4D5e6F-Gh ** bob@example.org"],
            ["2024-03-07 04:05:06 short-id <= alice@example.org"],
        ),
        "%{TOMCATLOG}": (
            ["2024-01-09 20:03:28,269 -0800 | ERROR | com.example.Svc - "
             "oh no",
             "2024-01-09 20:03:28 +00:00 | INFO | a.B - fine"],
            ["1999-01-09 20:03:28 +0000 | INFO | a.B - pre-20xx year"],
        ),
        "%{CATALINALOG}": (
            ["Jan 9, 2014 7:13:13 AM org.apache.catalina.startup.Catalina "
             "start"],
            ["Jan 9, 1914 7:13:13 AM x.Y z"],
        ),
        "%{CRONLOG}": (
            ["Mar 7 04:05:01 web1 CRON[123]: (root) CMD (run-parts "
             "/etc/cron.hourly)"],
            ["Mar 7 04:05:01 web1 CRON[123]: (root) cmd (lowercase action)"],
        ),
    }
    for grok, (good, bad) in cases.items():
        rx, _ = grok_to_regex(grok)
        full = re.compile(rx + r"\Z")
        for s in good:
            assert full.match(s), f"{grok} should match {s!r}"
        for s in bad:
            assert not full.match(s), f"{grok} should reject {s!r}"


def test_grok_java_only_syntax_skips_invariant(spark):
    """pattern_definitions using Java-only regex syntax (possessive
    quantifiers) must not be rejected by the Python-re invariant check
    (ADVICE r4) — the JVM extract path still parses them."""
    from fluent_plugin_record_reformer_spark.operators.parse import (
        grok_parse, grok_to_regex,
    )

    rx, fields = grok_to_regex(
        "%{POSSWORD:w} %{INT:n}", pattern_definitions={"POSSWORD": r"\w*+"}
    )
    assert fields == ["w", "n"]
    df = spark.createDataFrame([("abc 42",)], "text string")
    row = grok_parse(
        df, "%{POSSWORD:w} %{INT:n}",
        pattern_definitions={"POSSWORD": r"\w*+"}, types={"n": "long"},
    ).collect()[0]
    assert row["w"] == "abc" and row["n"] == 42


def test_single_pass_sep_with_replacement_metachars(spark):
    """A single_pass_sep containing '$' or '\\' must survive the Java
    replacement template (ADVICE r4): both paths agree on match and
    no-match lines."""
    from fluent_plugin_record_reformer_spark.operators.parse import regex_parse

    df = spark.createDataFrame(
        [("k=a v=1",), ("nope",)], "text string"
    )
    pat = r"k=(?P<k>\w+) v=(?P<v>\d+)"
    plain = regex_parse(df, pat).select("text", "k", "v").collect()
    for sep in ("$\\", "\\$1", "$2"):
        sp = regex_parse(
            df, pat, single_pass=True, single_pass_sep=sep
        ).select("text", "k", "v").collect()
        assert sorted(map(tuple, sp)) == sorted(map(tuple, plain)), sep


def test_funnel_hot_user_guard(spark):
    """max_events_per_user (VERDICT r4 #4): a bot identity exceeding
    the cap fails fast in-plan; under the cap results are unchanged."""
    import datetime as _dt

    import pytest as _pytest
    from pyspark.errors import SparkRuntimeException

    from fluent_plugin_record_reformer_spark.operators.aggregate import (
        funnel_stages,
    )

    t0 = _dt.datetime(2024, 1, 1)
    rows = [(1, t0 + _dt.timedelta(seconds=i), "view") for i in range(20)]
    rows += [(2, t0, "view"), (2, t0 + _dt.timedelta(1), "click")]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    with _pytest.raises(SparkRuntimeException, match="funnel_stages"):
        funnel_stages(
            df, ["view", "click"], max_events_per_user=10
        ).collect()
    got = {
        r["stage"]: r["n_users"]
        for r in funnel_stages(
            df, ["view", "click"], max_events_per_user=25
        ).collect()
    }
    assert got == {1: 2, 2: 1}


def test_grok_single_pass_auto_default(spark):
    """The shipped default (VERDICT r4 #7, threshold re-A/B'd down in
    r6): grok composites with >= 3 fields auto-route to the
    single-pass extractor (ONE regexp_replace in the plan), < 3
    fields stay on the bit-equivalent per-field path (K
    regexp_extract, zero regexp_replace)."""
    from fluent_plugin_record_reformer_spark.operators.parse import grok_parse

    df = spark.createDataFrame([("a b c d",)], "text string")
    wide = grok_parse(df, "%{WORD:a} %{WORD:b} %{WORD:c}")
    narrow = grok_parse(df, "%{WORD:a} %{WORD:b}")
    wide_plan = wide._jdf.queryExecution().executedPlan().toString()
    narrow_plan = narrow._jdf.queryExecution().executedPlan().toString()
    assert wide_plan.count("regexp_replace") == 1
    assert "regexp_extract" not in wide_plan
    # each field prints regexp_extract twice (""-check + value)
    assert narrow_plan.count("regexp_extract") == 4
    assert "regexp_replace" not in narrow_plan
    # both parse correctly
    assert wide.collect()[0]["c"] == "c"
    assert narrow.collect()[0]["b"] == "b"


def test_single_pass_separator_bearing_line_nulls_not_garbage(spark):
    """Code-review r5: a NON-matching line containing exactly K-1
    separator bytes used to split into K chunks and emit garbage
    fields; the joined!=input match test must null it out, same as
    the per-field path."""
    from fluent_plugin_record_reformer_spark.operators.parse import regex_parse

    pat = r"k=(?P<k>\w+) v=(?P<v>\d+)"
    rows = [("k=a v=1",), ("garbage\x01line",), ("nope",)]
    df = spark.createDataFrame(rows, "text string")
    sp = {
        r["text"]: (r["k"], r["v"])
        for r in regex_parse(df, pat, single_pass=True).collect()
    }
    pf = {
        r["text"]: (r["k"], r["v"])
        for r in regex_parse(df, pat).collect()
    }
    assert sp == pf
    assert sp["garbage\x01line"] == (None, None)


def test_lexical_group_count_guards_java_only_patterns():
    """Code-review r5: a Java-only pattern body with a BARE capture
    group must still be rejected (lexical count), and the counter
    understands escapes, char classes, and named groups."""
    import pytest as _pytest

    from fluent_plugin_record_reformer_spark.operators.parse import (
        _count_capture_groups,
        grok_to_regex,
    )

    assert _count_capture_groups(r"(a)(?:b)(?=c)\(d[(]e") == 1
    assert _count_capture_groups(r"(?P<x>a)(?<y>b)(?<=z)(?<!w)") == 2
    # Java-only syntax (possessive) + a bare group -> rejected even
    # though Python re cannot compile it
    with _pytest.raises(ValueError, match="bare"):
        grok_to_regex(
            "%{BADPOSS:f}", pattern_definitions={"BADPOSS": r"(a*+)b"}
        )


# ---------------------------------------------------------------------------
# assemble_multiline
# ---------------------------------------------------------------------------

from fluent_plugin_record_reformer_spark.operators.parse import (  # noqa: E402
    assemble_multiline,
)


def test_assemble_multiline_blocks_and_orphans(spark):
    rows = [
        # src a: orphan continuation BEFORE the first head, then 2 blocks
        ("a", 0, "\tat orphan.frame"),
        ("a", 1, "ERR one"),
        ("a", 2, "\tat f1"),
        ("a", 3, "\tat f2"),
        ("a", 4, "ERR two"),
        # src b: single head-only record
        ("b", 0, "ERR solo"),
    ]
    df = spark.createDataFrame(rows, "src string, ord long, line string")
    got = {
        (r["src"], r["seg_idx"]): (r["has_head"], r["n_lines"], r["message"])
        for r in assemble_multiline(
            df, line_col="line", source_col="src", order_col="ord"
        ).collect()
    }
    assert got == {
        ("a", 0): (False, 1, "\tat orphan.frame"),
        ("a", 1): (True, 3, "ERR one\n\tat f1\n\tat f2"),
        ("a", 2): (True, 1, "ERR two"),
        ("b", 1): (True, 1, "ERR solo"),
    }


def test_assemble_multiline_runaway_guard(spark):
    # a source whose lines NEVER match the head regex collapses into
    # one giant segment: the guard must fail fast in-plan
    rows = [("a", i, "\tcontinuation forever") for i in range(50)]
    df = spark.createDataFrame(rows, "src string, ord long, line string")
    guarded = assemble_multiline(
        df, line_col="line", source_col="src", order_col="ord", max_lines=10
    )
    with pytest.raises(Exception, match="exceeds 10 lines"):
        guarded.collect()
    assert (
        assemble_multiline(
            df, line_col="line", source_col="src", order_col="ord",
            max_lines=None,
        ).count()
        == 1
    )
