"""Batch + streaming sources and sinks.

Reference parity (SURVEY.md §2-B sources table): parquet/CSV/JSON/text/
binary scans and sinks, URL ingest (reference `download` task), and
streaming readers (xetl_spark.streaming).
"""

from xetl_spark.sources.io import (  # noqa: F401
    read_any,
    read_parquet,
    read_with_quarantine,
    write_any,
)
from xetl_spark.sources.url import (  # noqa: F401
    fetch_urls_distributed,
    ingest_url,
    register_url_datasource,
)
