"""Export a pipeline triple table to an N-Triples / N-Quads dump.

The other half of the ingest loop (`sources/ntriples.py` reads dumps;
this writes them): the MERGE'd triple table under ``OUT_DIR/triples``
— or any parquet relation with the TRIPLE_SCHEMA columns — serializes
to one statement per line, fully distributed (each task writes its own
part file; no driver collect at any size).

Usage:
  PYTHONPATH=. python tools/export_dump.py TRIPLES_PARQUET DEST_DIR \
      [--quads] [--parts N] [--overwrite]

``--quads`` keeps per-graph provenance as N-Quads labels; ``--parts``
coalesces/repartitions the output file count (dumps ship best as many
medium parts — gzip of a single giant file is unsplittable on re-read).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from shacl_validator_spark.session import get_spark  # noqa: E402
from shacl_validator_spark.sources.ntriples import ntriples_lines  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("triples", help="parquet path (e.g. OUT_DIR/triples)")
    ap.add_argument("dest", help="output directory for the dump part files")
    ap.add_argument("--quads", action="store_true", help="emit N-Quads graph labels")
    ap.add_argument("--parts", type=int, default=0, help="output part-file count")
    ap.add_argument(
        "--overwrite",
        action="store_true",
        help="replace DEST_DIR if it already exists (default: refuse)",
    )
    args = ap.parse_args()

    spark = get_spark(app_name="export_dump")
    df = spark.read.parquet(args.triples)
    lines = ntriples_lines(df, quads=args.quads)
    if args.parts > 0:
        lines = lines.repartition(args.parts)
    # refuse to clobber an existing destination unless asked (r3 ADVICE #4:
    # an unconditional overwrite silently deleted pre-existing directories)
    lines.write.mode("overwrite" if args.overwrite else "error").text(args.dest)
    n = spark.read.text(args.dest).count()
    print(f"exported {n} statements to {args.dest}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
