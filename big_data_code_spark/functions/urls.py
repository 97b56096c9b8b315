"""URL column expressions.

Parity with the reference's NormalizeURL
(`BatchWorkflow.java:183-221`): a normalized URL is
``protocol://host/path`` (query string and fragment dropped).

Implemented with ``parse_url`` / regex built-ins — JVM-side, no
Python UDF in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_url(url: Column) -> Column:
    """protocol://host+path, dropping query/fragment/userinfo.

    Malformed URLs (no protocol) yield NULL, mirroring the
    reference's silent drop of MalformedURLException rows.
    """
    proto = F.regexp_extract(url, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1)
    host = F.parse_url(url, F.lit("HOST"))
    path = F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit(""))
    return F.when(
        (proto != "") & host.isNotNull(),
        F.concat(proto, F.lit("://"), host, path),
    )
