"""nginx stub_status page parsing.

Reference: ``plugins/input/nginx/input_nginx.go:120-170`` — the HTTP
transport collapses to "read a table" per the north star; the PARSE
of the 4-line stub_status page is the liftable semantics:

    Active connections: 291
    server accepts handled requests
     16630948 16630948 31070465
    Reading: 6 Writing: 179 Waiting: 106

All seven fields are emitted as STRINGS (the reference keeps them as
the raw tokens in a ``map[string]string``). Malformed pages yield
NULL fields rather than task failure. One JVM match per row, zero
shuffle."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ilogtail_spark.operators.parse import regex_match

# The three lines as independent optional lookaheads from the start of
# the page: each takes the first match of its line anywhere (the lazy
# prefix tries the leftmost start first, as `find` does), and a line
# that is missing leaves its groups NULL without failing the others.
_STATUS_RE = (
    r"\A(?:(?=[\s\S]*?Active connections:\s*(\d+)))?"
    # the line AFTER the 'server accepts handled requests' header
    r"(?:(?=[\s\S]*?server accepts handled requests\s*\n\s*(\d+)\s+(\d+)\s+(\d+)))?"
    r"(?:(?=[\s\S]*?Reading:\s*(\d+)\s+Writing:\s*(\d+)\s+Waiting:\s*(\d+)))?"
)
_FIELDS = ["active", "accepts", "handled", "requests", "reading", "writing", "waiting"]


def nginx_status_parse(df: DataFrame, source_col: str = "page") -> DataFrame:
    """Parse a stub_status page column into the reference's seven
    fields (input_nginx.go:160-168): active, accepts, handled,
    requests, reading, writing, waiting — raw numeric tokens as
    strings. A line the page lacks (malformed page) leaves NULL for
    its fields; the three lines stay independent, matching the
    reference's per-line extraction. One JVM match per row
    (``parse.regex_match``)."""
    out = regex_match(df, source_col, [_STATUS_RE])
    return out.withColumns(
        {name: F.get(F.col("_rx.g"), i) for i, name in enumerate(_FIELDS)}
    ).drop("_rx")
