"""Conformance tests for the generic map_reduce() engine: diff it against
the native DataFrame fast paths (mirrors the reference's
sequential-vs-distributed golden compare, src/main/test-mr.sh:78-144), plus
scheduler-behavior assertions replacing the reference's probe apps (A3-A5,
A7 — SURVEY.md §5).
"""

import os
from pathlib import Path

import pytest

from map_reduce_go_spark.operators import mapreduce as mr
from map_reduce_go_spark.operators.mrapps import inverted_index, wordcount
from map_reduce_go_spark.sources.readers import corpus_from_documents


def kv_dict(df):
    return {r["key"]: r["value"] for r in df.collect()}


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    return corpus_from_documents(spark, sf_dir).cache()


def test_generic_wordcount_matches_native(spark, sf_dir, corpus):
    generic = kv_dict(mr.map_reduce(spark, corpus, mr.wc_map, mr.wc_reduce))
    native = {
        r["word"]: str(r["cnt"]) for r in wordcount(spark, sf_dir).collect()
    }
    assert generic == native


def test_generic_indexer_matches_native(spark, sf_dir, corpus):
    generic = kv_dict(mr.map_reduce(spark, corpus, mr.indexer_map, mr.indexer_reduce))
    native = {
        r["word"]: f"{r['doc_count']} {r['docs']}"
        for r in inverted_index(spark, sf_dir).collect()
    }
    assert generic == native


def test_hook_tokenizer_matches_native_tokenize(spark):
    """The Python hooks split words exactly like the native ``\\p{L}+``
    tokenizer (the reference's unicode.IsLetter, src/mrapps/wc.go:21-24):
    non-decimal numerics such as superscripts, vulgar fractions and Roman
    numerals are separators, not letters."""
    from map_reduce_go_spark.functions.text import tokenize

    rows = [
        ("f0", "x² ½ Ⅻ y"),
        ("f1", "naïve café³rd Ⅷvⅸ ⑤five 42abc ½½ end_of Ωmega"),
        ("f2", "plain words only plain"),
    ]
    df = spark.createDataFrame(rows, "filename string, contents string")
    native = {
        r["filename"]: r["words"]
        for r in df.select("filename", tokenize("contents").alias("words")).collect()
    }
    for fname, contents in rows:
        assert [w for w, _ in mr.wc_map(fname, contents)] == native[fname]
        assert [w for w, _ in mr.indexer_map(fname, contents)] == sorted(
            set(native[fname])
        )


def test_generic_crash_dataflow(spark, corpus):
    """A7 dataflow through the generic engine: 4 keys, sorted joined values."""
    out = kv_dict(mr.map_reduce(spark, corpus, mr.crash_map, mr.crash_reduce))
    assert set(out) == {"a", "b", "c", "d"}
    n_docs = corpus.count()
    assert out["d"] == " ".join(["xyzzy"] * n_docs)
    assert out["a"].split(" ") == sorted(out["a"].split(" "))


def test_text_sink_roundtrip(spark, corpus, tmp_path):
    """E9 text sink: '<key> <value>' lines, order-insensitive equality
    (the reference compares sorted output, src/main/test-mr.sh:103)."""
    df = mr.map_reduce(spark, corpus, mr.early_exit_map, mr.early_exit_reduce)
    out = str(tmp_path / "mr-out")
    mr.write_text_kv(df, out, n_partitions=10)
    files = [f for f in os.listdir(out) if f.startswith("part-")]
    # nReduce=10 layout (mrcoordinator.go:23); Spark skips empty partitions
    # at write where the reference emits empty mr-out files — consumers
    # concat+sort, so the difference is immaterial.
    assert 1 <= len(files) <= 10
    lines = sorted(r["value"] for r in spark.read.text(out).collect())
    expected = sorted(f"{k} {v}" for k, v in kv_dict(df).items())
    assert lines == expected


def test_text_sink_co_partitions_by_key(spark, tmp_path):
    """E9 file-assignment fidelity: every line for one key lands in ONE
    mr-out-N file — the reference's ihash(key) % nReduce contract
    (src/mr/worker.go:75). Partitioning by the rendered line would split
    keys with multiple distinct values across files."""
    rows = [(f"k{i % 5}", f"v{i}") for i in range(50)]
    df = spark.createDataFrame(rows, ["key", "value"])
    out = str(tmp_path / "mr-out-keyed")
    mr.write_text_kv(df, out, n_partitions=4)
    key_files: dict[str, set[str]] = {}
    for fname in os.listdir(out):
        if not fname.startswith("part-"):
            continue
        with open(os.path.join(out, fname)) as fh:
            for line in fh:
                key = line.split(" ", 1)[0]
                key_files.setdefault(key, set()).add(fname)
    assert key_files and all(len(fs) == 1 for fs in key_files.values()), key_files


@pytest.mark.parametrize(
    "map_fn, reduce_fn",
    [(mr.wc_map, mr.wc_reduce), (mr.indexer_map, mr.indexer_reduce)],
    ids=["wc", "indexer"],
)
def test_file_path_inputs_match_sequential(spark, tmp_path, map_fn, reduce_fn):
    """File-path inputs take the whole-file scan (one record per file, named
    by its URI — the reference map-task contract, src/mr/worker.go:59-71)
    and the written mr-out lines equal a sequential run (reference
    src/main/test-mr.sh:78-103)."""
    texts = {
        "pg-a.txt": "The quick brown fox.\nThe lazy dog!",
        "pg-b.txt": "A fox, a dog; and THE end\n",
        "pg-c.txt": "café naïve x² ½ Ⅻ quick\n\nend",
    }
    files = []
    for name, text in texts.items():
        f = tmp_path / name
        f.write_text(text, encoding="utf-8")
        files.append(str(f))
    out = str(tmp_path / "mr-out")
    mr.write_text_kv(
        mr.map_reduce(spark, files, map_fn, reduce_fn, n_reduce=3), out, n_partitions=3
    )
    got = sorted(r["value"] for r in spark.read.text(out).collect())

    groups: dict[str, list[str]] = {}
    for f in files:
        for k, v in map_fn(Path(f).resolve().as_uri(), Path(f).read_text("utf-8")):
            groups.setdefault(k, []).append(v)
    assert got == sorted(f"{k} {reduce_fn(k, vs)}" for k, vs in groups.items())

def test_map_parallelism_probe(spark):
    """A3/A4 analog: the scheduler really runs tasks in parallel."""
    assert spark.sparkContext.defaultParallelism >= 2
    # mtiming's method: record task (start, end) wall-clock spans and assert
    # at least two overlapped (reference src/mrapps/mtiming.go:19-62).
    def timed(_):
        import time

        start = time.time()
        time.sleep(0.5)
        return [(start, time.time())]

    spans = spark.sparkContext.parallelize(range(8), 8).flatMap(timed).collect()
    overlaps = sum(
        1
        for i, (s1, e1) in enumerate(spans)
        for s2, e2 in spans[i + 1 :]
        if s1 < e2 and s2 < e1
    )
    assert overlaps >= 1


def test_jobcount_probe(spark, corpus):
    """A5 analog: absent failures, map_fn runs exactly once per input row
    (the reference test demands exactly 8 runs for 8 files,
    src/main/test-mr.sh:201-223)."""
    acc = spark.sparkContext.accumulator(0)

    def counting_map(fname, contents):
        acc.add(1)
        return [("a", "x")]

    df = mr.map_reduce(spark, corpus, counting_map, mr.early_exit_reduce)
    assert df.count() == 1
    assert acc.value == corpus.count()


def test_crash_recovery_probe(spark, corpus, tmp_path):
    """A7 crash analog: a map task that dies on its first attempt still
    produces correct output via Spark task retry (replaces the reference's
    10 s-timeout reassignment, src/mr/coordinator.go:114-138)."""
    marker_dir = str(tmp_path)

    def flaky_map(fname, contents):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        marker = os.path.join(marker_dir, f"p{ctx.partitionId()}")
        if ctx.attemptNumber() == 0 and not os.path.exists(marker):
            open(marker, "w").close()
            raise RuntimeError("injected task failure")
        return mr.wc_map(fname, contents)

    flaky = kv_dict(mr.map_reduce(spark, corpus, flaky_map, mr.wc_reduce))
    clean = kv_dict(mr.map_reduce(spark, corpus, mr.wc_map, mr.wc_reduce))
    assert flaky == clean
