from .deletes import delete_urls, load_tombstones
from .ingest import (
    compact_index,
    finalize_streamed_index,
    stream_ingest_once,
)

__all__ = [
    "stream_ingest_once",
    "finalize_streamed_index",
    "compact_index",
    "delete_urls",
    "load_tombstones",
]
