"""Small driver-side parameter tables as Arrow-backed LocalRelations.

``spark.createDataFrame(list_of_rows, schema)`` routes tiny parameter
tables (centroid matrices, PQ codebooks, ADC LUTs, SQ min/max models,
query batches) through ``sc.parallelize``, so the frame is an
RDD-backed scan with ``defaultParallelism`` partitions: every broadcast
build of a ONE-ROW table schedules a 32-task stage on this host — and
at cluster scale a full executor round trip — per consuming action.
Routing the same rows through pandas + Arrow yields a ``LocalRelation``
the broadcast collects driver-side (measured 32-task stage -> 1 task;
guide §1.2: don't launch a distributed pass to read a constant).

Values are unchanged: the parameter tables carry doubles, ints and
strings (exact under Arrow), and the explicit schema is applied either
way.  Any conversion failure falls back to the classic path, so this is
a pure physical-plan optimization.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Above this many leaf scalars the parameter row stays a broadcast
#: one-row frame (a multi-megabyte literal bloats the plan and the
#: generated code); below it the values inline as literal columns —
#: no join, no broadcast-exchange build job per consuming action.
#: Env-overridable for cluster deployments with huge models.
PARAM_LITERAL_MAX = int(os.environ.get("SPECTRIFY_PARAM_LITERAL_MAX", "8192"))


def _scalar_count(v) -> int:
    if isinstance(v, (list, tuple)):
        return sum(_scalar_count(x) for x in v)
    return 1


def _sql_literal(v) -> str:
    """``v`` (nested lists of finite floats/ints/bools) as ONE
    Spark SQL expression string.  ``F.lit`` on a nested list issues one
    py4j round trip PER ELEMENT — measured 0.89 s of pure driver time
    per 4x16x16 codebook build vs 4 ms for the parsed string, with
    bit-identical values (repr() emits the shortest round-trip decimal,
    which the SQL double literal parses back exactly; pinned by test).
    Raises ValueError on non-finite floats or unsupported leaves — the
    caller falls back to the per-element ``F.lit`` path.  Strings are
    unsupported: how the parser reads a quoted literal's backslashes
    depends on ``spark.sql.parser.escapedStringLiterals``, while
    ``F.lit`` carries the exact value under any setting."""
    if isinstance(v, (list, tuple)):
        return "array(" + ",".join(_sql_literal(x) for x in v) + ")"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        r = repr(v)
        if "inf" in r or "nan" in r:
            raise ValueError("non-finite float has no exact SQL literal")
        return r + "D"
    if isinstance(v, int):
        return f"{v}L"
    raise ValueError(f"unsupported literal leaf {type(v).__name__}")


def _fast_lit(value):
    """Typed literal Column built in ONE py4j call (see
    :func:`_sql_literal`); per-element ``F.lit`` only as the fallback
    for value shapes the SQL form cannot express exactly."""
    try:
        return F.expr(_sql_literal(value))
    except Exception:  # noqa: BLE001 — non-finite/unsupported leaf
        return F.lit(value)


def literal_param(value, ddl_type: str):
    """``value`` as a typed literal Column, or ``None`` when it exceeds
    ``PARAM_LITERAL_MAX`` or cannot be literalized — callers fall back
    to their broadcast-frame / read-back arm."""
    from pyspark.sql.types import _parse_datatype_string

    if _scalar_count(value) > PARAM_LITERAL_MAX:
        return None
    try:
        return _fast_lit(value).cast(_parse_datatype_string(ddl_type))
    except Exception:  # noqa: BLE001 — non-literalizable value shape
        return None


def attach_params(df: DataFrame, row: dict, schema: str) -> DataFrame:
    """Attach a constant parameter row (column name -> Python value) to
    every row of ``df`` with the exact types of the DDL ``schema``.

    Replaces the ``df.crossJoin(F.broadcast(one_row_frame))`` pattern:
    small parameter tables (centroid matrices, PQ codebooks, ADC LUTs,
    SQ min/max models) become literal columns folded into the plan —
    zero join nodes and zero broadcast-build jobs per consuming action
    (guide §3: don't schedule a join to read a constant).  Values are
    bit-identical either way: Python floats ARE doubles and the cast
    only stamps the declared element types.  Oversized or
    non-literalizable parameters keep the broadcast-frame path.

    A parameter name that ``df`` already has raises ValueError on both
    arms (compared case-insensitively, as Spark resolves names): the
    literal arm would silently replace the column and the broadcast
    arm would duplicate it."""
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    have = {c.lower() for c in df.columns}
    clash = [f.name for f in struct.fields if f.name.lower() in have]
    if clash:
        raise ValueError(
            f"attach_params: parameter columns {clash} already exist in "
            f"the frame ({df.columns})"
        )
    if sum(_scalar_count(v) for v in row.values()) <= PARAM_LITERAL_MAX:
        try:
            cols = {
                f.name: _fast_lit(row[f.name]).cast(f.dataType)
                for f in struct.fields
            }
            return df.withColumns(cols)
        except Exception:  # noqa: BLE001 — non-literalizable value shape
            pass
    frame = local_rows_frame(
        df.sparkSession, [tuple(row[f.name] for f in struct.fields)], schema
    )
    return df.crossJoin(F.broadcast(frame))


def local_rows_frame(spark, rows, schema: str) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` that prefers the
    Arrow/pandas LocalRelation path (zero cluster tasks per broadcast
    build) over the parallelize path.  ``rows`` is a list of tuples;
    ``schema`` a DDL string."""
    try:
        import pandas as pd
        from pyspark.sql.types import _parse_datatype_string

        struct = _parse_datatype_string(schema)
        names = [f.name for f in struct.fields]
        pdf = pd.DataFrame(list(rows), columns=names, dtype=object)
        df = spark.createDataFrame(pdf, struct)
        # the win only exists on the Arrow path (LocalTableScan); a
        # silent fallback inside createDataFrame would still be
        # correct, so accept whatever plan it produced
        return df
    except Exception:  # noqa: BLE001 — conversion quirk: keep the classic path
        return spark.createDataFrame(list(rows), schema)
