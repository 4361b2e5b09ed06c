from ilogtail_spark.sources.tables import load_table, load_tables
from ilogtail_spark.sources.transcripts import (
    TRANSCRIPTS_CTE,
    derive_transcripts,
)

__all__ = [
    "load_table",
    "load_tables",
    "derive_transcripts",
    "TRANSCRIPTS_CTE",
]
