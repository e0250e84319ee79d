"""Vectorized restricted-Python expression fields — the engine's
escape hatch, standing in for the reference's ``enable_ruby`` sandbox
(``core.rb:252-343``).

The reference ``instance_eval``s a Ruby snippet per event inside a
cleanroom (Object methods undef'd, ``method_missing`` resolves bare
names to record keys, ``core.rb:321-342``); an eval failure warns and
yields nil for the field (``core.rb:315-319``).

Here the snippet is a PYTHON expression evaluated ONCE PER ARROW BATCH
over ``pandas.Series`` columns (never per row): record columns bind by
name (the ``method_missing`` analog), plus ``tag``, ``time``,
``tag_parts`` (a list-valued Series), ``hostname``, ``pd``, ``np``,
``re`` and a small builtin whitelist. When the batch evaluation
raises, the batch is evaluated again row by row and only the rows that
raise yield null, mirroring the reference's per-event nil-on-error, so
a result never depends on where Arrow cut the batches.

Example specs::

    python_exprs={"len2": "text.str.len() * 2"}
    python_exprs={"status": "value.where(value > 0, 0)"}
"""

from __future__ import annotations

import ast
import re as _re
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SAFE_BUILTINS = {
    "len": len,
    "str": str,
    "int": int,
    "float": float,
    "bool": bool,
    "abs": abs,
    "min": min,
    "max": max,
    "round": round,
    "sum": sum,
    "sorted": sorted,
    "zip": zip,
    "map": map,
    "range": range,
    "enumerate": enumerate,
    "list": list,
    "dict": dict,
    "tuple": tuple,
    "set": set,
}


def python_expr_column(
    df: DataFrame,
    expr: str,
    *,
    ret_type: str = "string",
    tag_col: str = "tag",
    time_col: str = "ts",
    hostname: str = "",
    extra_cols: Sequence[str] | None = None,
) -> Column:
    """Compile one restricted expression into an Arrow-batched Column.

    The UDF receives all needed columns as ONE struct argument so a
    single Arrow transfer feeds the whole expression.
    """
    code = compile(expr, "<python_expr>", "eval")  # driver-side syntax check
    # Column pruning for the Arrow transfer: ship ONLY the columns the
    # expression references (Catalyst can't prune inside a UDF struct
    # arg, so we do it at compile time — at 100 TB, shipping unused
    # text/blob columns through Arrow would dominate the stage).
    tree = ast.parse(expr, mode="eval")
    referenced = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    # record['foo.bar'] / record['@timestamp']: the __send__ analog for
    # keys that aren't valid identifiers (reference compat kit,
    # test_out_record_reformer.rb:631-662) — collect those string
    # subscripts so the columns survive pruning
    static_record_nodes: set[int] = set()
    for n in ast.walk(tree):
        if (
            isinstance(n, ast.Subscript)
            and isinstance(n.value, ast.Name)
            and n.value.id == "record"
            and isinstance(n.slice, ast.Constant)
            and isinstance(n.slice.value, str)
        ):
            referenced.add(n.slice.value)
            static_record_nodes.add(id(n.value))
    # `record` used any way OTHER than a constant-string subscript
    # (record[key_var], record.get('col'), bare `record`) can touch any
    # column — pruning would silently null the whole field at runtime
    # (missing column inside the blanket except). Ship everything.
    dynamic_record = any(
        isinstance(n, ast.Name)
        and n.id == "record"
        and id(n) not in static_record_nodes
        for n in ast.walk(tree)
    )
    if extra_cols is not None:
        cols = list(extra_cols)
    elif dynamic_record:
        cols = list(df.columns)
    else:
        cols = [c for c in df.columns if c in referenced]
    want_tag_parts = "tag_parts" in referenced
    if ("tag" in referenced or want_tag_parts) and tag_col in df.columns:
        if tag_col not in cols:
            cols.append(tag_col)
    if "time" in referenced and time_col in df.columns and time_col not in cols:
        cols.append(time_col)
    if not cols:  # constant expression: still need one column for batch length
        cols = [df.columns[0]]

    def _run(frame: pd.DataFrame) -> pd.Series:
        env: dict[str, object] = {c: frame[c] for c in frame.columns}
        if tag_col in frame.columns:
            env["tag"] = frame[tag_col]
            if want_tag_parts:
                env.setdefault(
                    "tag_parts",
                    frame[tag_col].map(lambda t: t.split(".") if t else []),
                )
        if time_col in frame.columns:
            env["time"] = frame[time_col]
        # the whole batch as `record` — dict-style access for keys that
        # aren't valid Python names (record['@timestamp'])
        env["record"] = frame
        env.update({"hostname": hostname, "pd": pd, "np": np, "re": _re})
        out = eval(code, {"__builtins__": _SAFE_BUILTINS}, env)
        if not isinstance(out, pd.Series):
            out = pd.Series([out] * len(frame))
        return out

    def _row(frame: pd.DataFrame, i: int):
        try:
            v = _run(frame.iloc[i : i + 1]).iloc[0]
        except Exception:
            return None  # nil-on-error for this event, mirrors core.rb:315-319
        return None if pd.api.types.is_scalar(v) and pd.isna(v) else v

    @F.pandas_udf(ret_type)
    def _eval(batch: pd.Series) -> pd.Series:
        # batch is a pd.DataFrame when the input is a struct column
        frame: pd.DataFrame = batch  # type: ignore[assignment]
        try:
            out = _run(frame)
        except Exception:
            # some row raised: evaluate row by row so only those get null
            out = pd.Series([_row(frame, i) for i in range(len(frame))], dtype=object)
            if ret_type == "string":
                out = out.map(lambda x: None if x is None else str(x))
            return out
        if ret_type == "string" and out.dtype != object:
            # declared-type coercion: stringify non-null values so the
            # Arrow writer accepts heterogeneous expression results
            out = out.map(lambda x: None if pd.isna(x) else str(x))
        return out

    struct_cols = [F.col("`%s`" % c).alias(c) for c in cols]
    return _eval(F.struct(*struct_cols))
