"""Explicit StructTypes for the tile-tree tables (SURVEY.md §1), the
embedding dim and the span kinds.

The tile tables mirror the reference's SQLAlchemy tile/edge/link models
(db/models/raptor.py:37-81) with a fixed schema: typed columns instead of
JSONB escape hatches.
"""

from __future__ import annotations

from pyspark.sql.types import (
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

N_DIM = 64  # test dim; reference default is 1024 (/root/reference/db/models/base.py:13)

TILE_NODES = StructType(
    [
        StructField("tree_id", StringType(), False),
        StructField("node_id", StringType(), False),
        StructField("dataset_id", StringType(), False),
        StructField("level", IntegerType(), False),
        StructField("kind", StringType(), False),  # leaf | summary | root
        StructField("cell", LongType(), False),
        StructField("text", StringType(), False),
        StructField("meta", MapType(StringType(), StringType()), True),
    ]
)

TILE_EDGES = StructType(
    [
        StructField("tree_id", StringType(), False),
        StructField("parent_id", StringType(), False),
        StructField("child_id", StringType(), False),
    ]
)

NODE_CHUNKS = StructType(
    [
        StructField("tree_id", StringType(), False),
        StructField("node_id", StringType(), False),
        StructField("chunk_id", StringType(), False),
        StructField("rank", IntegerType(), False),  # first-seen order (utils/chunking.py:4-11)
    ]
)

SPAN_KINDS_TEXT = ("text", "header", "code", "list", "quote")
SPAN_KINDS_MEDIA = ("table", "image")
