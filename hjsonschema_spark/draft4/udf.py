"""Draft-4 validation of a JSON string column — the row-wise reference
semantics (one document at a time, src/JSONSchema/Types.hs:20-26)
running distributed. The driver compiles the schema once to check it
and ships the schema dict; each Python task compiles it once into a
``Draft4Validator`` (a tree of closures holding the checks of the
keywords each schema node has, with bounds, enum members and regexes
converted, see draft4/validator.py) and runs every document of its
Arrow batches through it via mapInPandas — never per-row Python UDF
calls, and no schema dict read per document.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hjsonschema_spark.sqltext import col_parts


def validate_json_column(
    df: DataFrame,
    json_col: str,
    schema: dict[str, Any],
    registry: dict[str, Any] | None = None,
    valid_col: str = "_valid",
    failures_col: str = "_failures_json",
) -> DataFrame:
    """Add ``_failures_json`` (array of failure structs) and ``_valid``
    (boolean; NULL json => NULL) columns, with the columnar path's
    output contract (``withColumns``): an input column of the same name
    (matched as the session resolves names) is replaced where it
    stands, the others are appended in that order.

    ``json_col`` is read as ``F.col`` reads it: a top-level column
    (matched as the session resolves names) is read in place; any other
    reference (a nested field, say ``s.j``) is computed into one extra
    input column that the output leaves out."""
    from pyspark.sql.types import BooleanType, DataType, StructField, StructType

    from hjsonschema_spark.draft4.columnar import _FAIL_DDL
    from hjsonschema_spark.draft4.validator import Draft4Validator

    # compiled here once too, so a schema that cannot compile fails at
    # this call with SchemaInvalid, not inside every task of the job
    Draft4Validator(schema, registry=registry)
    added = {failures_col: DataType.fromDDL(_FAIL_DDL), valid_col: BooleanType()}
    case_sensitive = df.sparkSession.conf.get("spark.sql.caseSensitive") == "true"
    fold = (lambda n: n) if case_sensitive else str.lower
    by_fold = {fold(n): n for n in added}
    fields = [
        StructField(by_fold[fold(f.name)], added[by_fold[fold(f.name)]])
        if fold(f.name) in by_fold
        else f
        for f in df.schema.fields
    ]
    n_in = len(fields)
    fields += [StructField(n, t) for n, t in added.items() if n not in {f.name for f in fields}]
    result_schema = StructType(fields)

    parts = col_parts(json_col)
    same = [i for i, n in enumerate(df.columns) if len(parts) == 1 and fold(n) == fold(parts[0])]
    if len(same) == 1:
        doc_at = same[0]
    else:
        df, doc_at = df.select("*", F.col(json_col)), n_in
    # mapInPandas reads its input columns by name, and a name with a dot
    # would read as a nested field: hand it positional names
    df = df.toDF(*(f"_{i}" for i in range(len(df.columns))))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # compiled once per task (fixes the reference's rebuild-per-
        # recursion anti-pattern, Spec.hs:144-150)
        from hjsonschema_spark.draft4.validator import loads_json

        v = Draft4Validator(schema, registry=registry)
        for pdf in batches:
            valids: list[bool | None] = []
            fails: list[list | None] = []
            for s in pdf.iloc[:, doc_at]:
                if s is None:
                    valids.append(None)
                    fails.append(None)
                    continue
                try:
                    doc = loads_json(s)
                except (ValueError, TypeError) as e:
                    valids.append(False)
                    fails.append([("parse", "", "", f"invalid JSON: {e}", str(s)[:256])])
                    continue
                errs = v.validate(doc)
                valids.append(not errs)
                fails.append([f.as_row() for f in errs])
            # input columns by position, renamed as the output names
            # them; then the verdicts, in place or appended
            out = {fields[i].name: pdf.iloc[:, i] for i in range(n_in)}
            out[failures_col] = pd.Series(fails, index=pdf.index, dtype="object")
            out[valid_col] = pd.Series(valids, index=pdf.index, dtype="object")
            yield pd.DataFrame(out)

    return df.mapInPandas(run, result_schema)
