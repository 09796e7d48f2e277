"""Arrow-backed construction of small driver-side DataFrames.

``spark.createDataFrame(list_of_rows, schema)`` builds a pickled Python
RDD (``LogicalRDD``): every action that touches it — including each AQE
broadcast-build job — spawns Python workers to unpickle the rows.  In the
validator a 35-constraint suite references its facet table from ~12 plan
branches, and each reference cost a 32-task Python-worker job with ~0.1 s
of CPU and ~7 s of blocked runtime (measured, r4 profile).

Going through a ``pyarrow.Table`` instead yields a true Catalyst
``LocalRelation``: rows live in the JVM plan, broadcast builds are
driver-local, no Python worker is ever involved, and Catalyst can prune /
fold into it.  Every driver-built relation in the package goes through
``local_df``; a schema Arrow cannot carry falls back to the pickled path
with a logged warning.

Lookup tables (facets, constraints, sh:sparql VALUES, alias maps) stay
plain ``LocalRelation``s: they are KB-sized and each plan reads them a
few times.  Driver-parsed triples (``sources/rdf_io.py``) are different:
``validate()`` scans its input ~300 times for a 35-constraint suite, and
an unpinned ``LocalRelation`` ships its rows inside every one of those
scans' tasks.  On a 1000-catalog (~45k-triple) Turtle input,
``validate_report`` + ``count()`` took 3.98–4.78 s unpinned against
2.55–3.23 s for the old pickled RDD + ``dropDuplicates``, and 1.97–2.57 s
once the relation is pinned with ``localCheckpoint(eager=True)`` (warm
reps, 4-core VM).  So ``rdf_io`` pins its relation once and every scan
reads the pinned blocks.  It pins them as ONE partition: on a catalog
request that removes every shuffle from the validation plan, and up to
1.9M triples one partition never lost to the default layout
(``rdf_io``'s docstring has the numbers).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

log = logging.getLogger(__name__)


def local_df(spark: SparkSession, rows: list, schema: T.StructType | str) -> DataFrame:
    """A small driver-side relation as a JVM LocalRelation when possible.

    ``rows`` may be dicts (keyed by field name) or tuples in field order;
    ``schema`` a StructType or DDL string.  Semantics match
    ``spark.createDataFrame(rows, schema)``.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    try:
        arrow_schema = to_arrow_schema(schema)
        names = schema.fieldNames()
        if rows and not isinstance(rows[0], dict):
            rows = [dict(zip(names, r)) for r in rows]
        tbl = pa.Table.from_pylist(rows, schema=arrow_schema)
    except (pa.ArrowException, TypeError, ValueError) as e:
        # the pickled-RDD path is slower (Python workers on every scan) but
        # carries any type; say so rather than degrade silently
        log.warning(
            "local_df: schema %s cannot go through Arrow (%s); building a "
            "pickled Python RDD instead",
            schema.simpleString(),
            e,
        )
        return spark.createDataFrame(rows, schema)
    return spark.createDataFrame(tbl)
