"""Language gate ahead of extraction (S1 analogue).

The `lang` filter runs BEFORE the fused extract stage
(extract.extract_pages_flat), so the html→text parse never runs on
dropped rows, and Catalyst pushes the predicate into the parquet scan.
html→text itself happens inside that stage, and only for rows whose
`text` is null: it calls the same pure function as the plain-Python
oracle (reference_impl.html_to_text), so extracted text is byte-identical
per url (tests/test_extraction_fidelity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def filter_langs(pages: DataFrame, langs) -> DataFrame:
    """Language gate — a scan-pushable predicate on a source column."""
    return pages.filter(F.col("lang").isin(list(langs)))
