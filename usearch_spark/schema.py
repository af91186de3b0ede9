"""The engine's data model and the testdata table list.

The core entities mirror the reference data model (see SURVEY.md §1):
  - Link   (graph vertex):   reference linkgraph/graph/graph.go:71-75
  - Edge   (graph edge):     reference linkgraph/graph/graph.go:79-84
  - Document (indexed page): reference textindexer/index/doc.go:10-28
  - Crawl payload:           reference crawler/payload.go:25-34

IDs are strings (UUID canonical form).  Deterministic IDs — UUIDv5-style
sha1/sha2 of the URL — replace the reference's random-UUID-on-upsert so that
batch upserts become pure groupBy/dropDuplicates ops with no driver round
trips (critical at 100 TB: id assignment must not serialize through a
single store).
"""

from __future__ import annotations

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
