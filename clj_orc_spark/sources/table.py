"""Token-table source: parquet paths and Iceberg table identifiers.

The north rule targets "Iceberg tables of pre-tokenized training sequences"
(BASELINE.json input_hint: ``doc_id string, tokens array<int32>, n_tok int32,
source string``).  This module is the single entry point that loads that
table from whichever physical source the deployment uses:

* a parquet path (file, directory, or ``file://`` URI) — the only source
  testable in this sandbox, and the fast path: ``encode(input_path=...)``
  can then plan zero-shuffle row-group bins from footers;
* an Iceberg table identifier (``catalog.db.table``) via
  ``spark.read.format("iceberg")`` when the runtime has the Iceberg Spark
  connector on the classpath (production shape).  Iceberg reads hand
  ``encode(df=...)`` a DataFrame, which Spark writes once to the store's
  ``_staging/`` directory before the row-group planner reads its footers;
  ``sources/iceberg_plan.py`` plans from Iceberg's own manifest entries
  instead and skips that copy.

The analog of the reference's reader configuration step
(`/root/reference/src/orc/read.clj:27-49`: URI + schema in, reader out),
with schema VALIDATION promoted to plan time like its
``typed-read`` dispatch (`src/orc/col.clj:155-174`).
"""

from __future__ import annotations

import os

REQUIRED = {
    "doc_id": "string",
    "tokens": "array<int>",
    "n_tok": "int",
    "source": "string",
}


def validate_token_schema(df) -> None:
    """Raise with a precise message when the table does not match
    input_hint's shape — a plan-time throw, never a mid-job executor one."""
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    problems = []
    for name, want in REQUIRED.items():
        got = actual.get(name)
        if got is None:
            problems.append(f"missing column {name!r} ({want})")
        elif got != want:
            problems.append(f"column {name!r} is {got}, expected {want}")
    if problems:
        raise ValueError(
            "not a token table (doc_id string, tokens array<int32>, "
            "n_tok int32, source string): " + "; ".join(problems)
        )


def read_token_table(spark, source: str, format: str = "auto"):
    """Load and validate the token table.

    ``format``: "parquet", "iceberg", or "auto" (identifier-looking strings
    with no path separator → iceberg; everything else → parquet).
    """
    if format == "auto":
        # a bare relative directory name ('data') is a PATH, not a table
        # identifier — probe the filesystem before classifying, or the user
        # gets a misleading 'needs iceberg-spark-runtime jar' error
        looks_like_ident = "/" not in source and "\\" not in source and \
            not source.endswith(".parquet") and not os.path.exists(source)
        format = "iceberg" if looks_like_ident else "parquet"
    if format == "parquet" and "://" not in source and os.path.exists(source):
        # absolutize: the JVM resolves relative paths against ITS cwd,
        # which need not match the Python driver's
        source = os.path.abspath(source)
    if format == "iceberg":
        try:
            df = spark.read.format("iceberg").load(source)
        except Exception as e:  # connector missing or table unresolved
            raise RuntimeError(
                f"cannot read Iceberg table {source!r}: the Spark session "
                "needs the iceberg-spark-runtime jar and a configured "
                "catalog (spark.sql.catalog.<name>). Original error: "
                f"{type(e).__name__}: {e}"
            ) from e
    elif format == "parquet":
        df = spark.read.parquet(source)
    else:
        raise ValueError(f"unknown format {format!r}")
    validate_token_schema(df)
    return df.select("doc_id", "tokens", "n_tok", "source")
