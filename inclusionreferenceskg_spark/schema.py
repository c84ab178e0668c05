"""Table schemas for every stage of the pipeline.

The ``pages`` input shape is authoritative (BASELINE.json input_hint):
``(url string, warc_ts timestamp, html binary, text string, lang string)``
plus two optional engine columns (``title``, ``doc_rank``) that default from
``url`` when absent.  Everything downstream is columnar: trees are flattened
to rows with materialized root-to-node paths, recursion in phrases becomes
id-linked edge rows, the KG adjacency dict becomes node/edge tables.
"""

from __future__ import annotations

from pyspark.sql import types as T

PATH_ELEMENT = T.StructType([
    T.StructField("node_type", T.StringType()),
    T.StructField("number", T.IntegerType()),
    T.StructField("title", T.StringType()),
])

PATTERN_ELEMENT = T.StructType([
    T.StructField("node_type", T.StringType()),
    T.StructField("number", T.IntegerType()),
    T.StructField("title", T.StringType()),
    T.StructField("ref_url", T.StringType()),
])

NODES = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("doc_rank", T.LongType()),
    T.StructField("node_id", T.StringType(), False),
    T.StructField("node_type", T.StringType(), False),
    T.StructField("depth", T.IntegerType(), False),
    T.StructField("number", T.IntegerType()),
    T.StructField("title", T.StringType()),
    T.StructField("content", T.StringType()),
    T.StructField("parent_id", T.StringType()),
    T.StructField("path", T.ArrayType(PATH_ELEMENT), False),
    T.StructField("para_key", T.StringType()),
    T.StructField("seq", T.LongType(), False),
])

EXTRACTED_TEXT = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("sha256", T.StringType(), False),
])

MENTIONS = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("node_id", T.StringType(), False),
    T.StructField("seq", T.LongType(), False),
    T.StructField("mention_idx", T.IntegerType(), False),
    T.StructField("start", T.IntegerType(), False),
    T.StructField("text", T.StringType(), False),
])

QUALIFIERS = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("doc_rank", T.LongType()),
    T.StructField("node_id", T.StringType(), False),
    T.StructField("seq", T.LongType(), False),
    T.StructField("mention_idx", T.IntegerType(), False),
    T.StructField("start", T.IntegerType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("qual_idx", T.IntegerType(), False),
    T.StructField("qualifier", T.ArrayType(PATTERN_ELEMENT), False),
    # denormalized join keys for candidate generation:
    T.StructField("deep_type", T.StringType(), False),
    T.StructField("deep_number", T.IntegerType()),
    T.StructField("target_url", T.StringType()),   # same-corpus shortcut
    T.StructField("doc_title", T.StringType()),    # cross-document title key
])

RESOLVED = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("node_id", T.StringType(), False),
    T.StructField("seq", T.LongType(), False),
    T.StructField("mention_idx", T.IntegerType(), False),
    T.StructField("start", T.IntegerType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("qual_idx", T.IntegerType(), False),
    T.StructField("target_url", T.StringType(), False),
    T.StructField("target_node_id", T.StringType(), False),
    T.StructField("target_seq", T.LongType(), False),
    T.StructField("target_display", T.StringType(), False),
])

KG_NODES = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("kg_id", T.StringType(), False),
    T.StructField("kind", T.StringType(), False),  # predicate|object|doc_node
    T.StructField("node_id", T.StringType()),      # owning document node
    T.StructField("sent_uid", T.StringType()),
    T.StructField("token_i", T.IntegerType()),
    T.StructField("token_text", T.StringType()),
    T.StructField("lemma", T.StringType()),
    T.StructField("tag", T.StringType()),
    T.StructField("pos", T.StringType()),
    T.StructField("negated", T.BooleanType()),
])

KG_EDGES = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("src", T.StringType(), False),
    T.StructField("dst", T.StringType(), False),
    T.StructField("label", T.StringType(), False),
    T.StructField("attrs", T.MapType(T.StringType(), T.StringType())),
])

TRIPLES = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("subject", T.StringType(), False),
    T.StructField("relation", T.StringType(), False),
    T.StructField("object", T.StringType(), False),
])
