"""The reference's canned MapReduce applications as native DataFrame plans.

Each of the reference's mrapps is a fixed query = one Map fn + one Reduce fn
(SURVEY.md §2.2). Here each becomes a declarative DataFrame plan over the
driver ``documents`` corpus (``source`` = filename, ``text`` = contents,
FIXTURES.md) so Catalyst supplies partial aggregation, codegen, and AQE —
everything the reference's fixed Map->Shuffle->Reduce pipeline lacks.

Scale notes (100 TB):
- wordcount/inverted_index shuffle once on the word key with map-side
  partial aggregation (the reference ships one record per word *occurrence*
  across its shuffle — reference src/mrapps/wc.go:26-31 — while Catalyst's
  partial agg collapses them per map partition first).
- file_projections groups on 4 constant keys -> tiny shuffle, but
  collect_list per key grows with file count; at 100 TB you would cap or
  bucket the value list — the reference semantic (one space-joined line per
  key, src/mrapps/crash.go:45-55) is inherently single-reducer per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_go_spark.functions.text import WORD_BOUNDARY, exploded_words
from map_reduce_go_spark.registry import register
from map_reduce_go_spark.sources.readers import corpus_from_documents

# DuckDB-side equivalent of functions.text.tokenize — same regex.
_ORACLE_WORDS = rf"""
  SELECT doc_id, source AS filename,
         unnest(string_split_regex(text, '[^\p{{L}}]+')) AS word
  FROM documents
"""


@register(
    "wordcount",
    oracle=f"""
    SELECT word, count(*) AS cnt
    FROM ({_ORACLE_WORDS}) t
    WHERE word <> ''
    GROUP BY word
    """,
)
def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 wc: count occurrences per word across the corpus.

    Reference semantics: map splits contents on non-letter runs and emits
    (word, "1"); reduce counts values (reference src/mrapps/wc.go:19-40).
    Plan: explode(tokenize) -> groupBy(word).count(). One shuffle, partial
    aggregation map-side, whole-stage codegen end-to-end.
    """
    corpus = corpus_from_documents(spark, sf_dir)
    return (
        exploded_words(corpus, "contents", "word")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "inverted_index",
    oracle=f"""
    SELECT word,
           count(DISTINCT filename) AS doc_count,
           string_agg(DISTINCT filename, ',' ORDER BY filename) AS docs
    FROM ({_ORACLE_WORDS}) t
    WHERE word <> ''
    GROUP BY word
    """,
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 indexer: word -> (#docs containing it, sorted comma-joined doc list).

    Reference semantics: map emits each *distinct* word per document once
    (dedup set, reference src/mrapps/indexer.go:20-31); reduce sorts the doc
    list and emits "<count> <doc1,doc2,...>" (src/mrapps/indexer.go:36-39).
    Plan: explode -> distinct(word, filename) -> groupBy(word) with
    collect_set + sort_array (value order into reduce is unspecified in the
    reference, so it sorts explicitly — we mirror that with sort_array).
    """
    corpus = corpus_from_documents(spark, sf_dir)
    from map_reduce_go_spark.functions.text import tokenize

    # Per-document dedup BEFORE the explode — the reference's map-side
    # word set (src/mrapps/indexer.go:21-25) — so the distinct shuffle
    # sees one row per (doc, word), not one per occurrence. The distinct()
    # still runs to merge docs sharing a filename.
    postings = (
        corpus.select(
            "filename", F.explode(F.array_distinct(tokenize("contents"))).alias("word")
        )
        .distinct()
    )
    return postings.groupBy("word").agg(
        F.count("filename").alias("doc_count"),
        F.concat_ws(",", F.sort_array(F.collect_set("filename"))).alias("docs"),
    )


@register(
    "generic_mapreduce_wordcount",
    oracle=f"""
    SELECT word AS key, CAST(count(*) AS VARCHAR) AS value
    FROM ({_ORACLE_WORDS}) t
    WHERE word <> ''
    GROUP BY word
    """,
)
def generic_mapreduce_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The generic 2-hook map_reduce() engine (the reference's real API,
    src/mr/worker.go:38) running the wc hooks — proves the arbitrary-UDF
    path against the same oracle as the native plan. String-typed output
    mirrors the reference's string-only data plane (SURVEY.md §1.2)."""
    from map_reduce_go_spark.operators.mapreduce import map_reduce, wc_map, wc_reduce

    corpus = corpus_from_documents(spark, sf_dir)
    return map_reduce(spark, corpus, wc_map, wc_reduce, n_reduce=10)


@register(
    "per_file_count",
    oracle="""
    SELECT source AS filename, count(*) AS cnt
    FROM documents
    GROUP BY source
    """,
)
def per_file_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 early_exit dataflow: per-file record count.

    Reference semantics: map emits (filename, "1"); reduce counts
    (reference src/mrapps/early_exit.go:19-36). The 3 s sleep is a harness
    concern, not dataflow. Over the columnar corpus this is count per source.
    """
    corpus = corpus_from_documents(spark, sf_dir)
    return corpus.groupBy(F.col("filename")).agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "file_projections",
    oracle="""
    SELECT key, string_agg(value, ' ' ORDER BY value) AS joined
    FROM (
      SELECT 'a' AS key, source AS value FROM documents
      UNION ALL SELECT 'b', CAST(length(source) AS VARCHAR) FROM documents
      UNION ALL SELECT 'c', CAST(length(text) AS VARCHAR) FROM documents
      UNION ALL SELECT 'd', 'xyzzy' FROM documents
    ) t
    GROUP BY key
    """,
)
def file_projections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 crash/nocrash dataflow: 4 scalar projections per file, then
    sorted space-joined values per key.

    Reference semantics: map emits ("a",filename), ("b",len(filename)),
    ("c",len(contents)), ("d","xyzzy") per file (reference
    src/mrapps/crash.go:34-43); reduce sorts values and space-joins
    (src/mrapps/crash.go:45-55). The crash/sleep injection is covered by
    Spark task retry (tested separately), not by the dataflow.

    Plan: stack() projects 4 KV rows per input row without a join or union
    (single pass), then one tiny shuffle on 4 constant keys.
    """
    corpus = corpus_from_documents(spark, sf_dir)
    kv = corpus.select(
        F.expr(
            "stack(4, "
            "'a', filename, "
            "'b', cast(length(filename) as string), "
            "'c', cast(length(contents) as string), "
            "'d', 'xyzzy') as (key, value)"
        )
    )
    return kv.groupBy("key").agg(
        F.concat_ws(" ", F.sort_array(F.collect_list("value"))).alias("joined")
    )
