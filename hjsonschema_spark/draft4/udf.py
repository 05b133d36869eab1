"""Draft-4 validation of a JSON string column — the row-wise reference
semantics (one document at a time, src/JSONSchema/Types.hs:20-26)
running distributed: the validator is compiled ONCE per Python worker
(driver ships the schema dict; closure materializes the validator
lazily), and rows stream through Arrow batches via mapInPandas — never
per-row Python UDF calls."""

from __future__ import annotations

import json
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame

FAILURE_FIELDS = "array<struct<keyword:string,instance_path:string,schema_path:string,message:string,value:string>>"


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
    stands, the others are appended in that order."""
    from pyspark.sql.types import ArrayType, BooleanType, StructField, StructType, StringType

    fail_struct = StructType(
        [
            StructField("keyword", StringType()),
            StructField("instance_path", StringType()),
            StructField("schema_path", StringType()),
            StructField("message", StringType()),
            StructField("value", StringType()),
        ]
    )
    added = {failures_col: ArrayType(fail_struct), valid_col: BooleanType()}
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

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # compiled once per worker (fixes the reference's rebuild-per-
        # recursion anti-pattern, Spec.hs:144-150)
        from hjsonschema_spark.draft4.validator import Draft4Validator, loads_json

        v = Draft4Validator(schema, registry=registry)
        for pdf in batches:
            valids: list[bool | None] = []
            fails: list[list | None] = []
            for s in pdf[json_col]:
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
