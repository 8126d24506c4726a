"""One serving stack: a batch-built index is the one-generation view of
a generation root. The same docs served both ways give bitwise-identical
frames with the same number of Spark jobs; the shared chunk loop keeps
at most two chunks submitted; doc_stats reads survive empty part files
on both layouts."""

import glob
import os
import shutil
import threading
import time

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from theoremsearch_spark.build import build_index
from theoremsearch_spark.corpus import generate_documents, query_set
from theoremsearch_spark.extract import tokenize
from theoremsearch_spark.positions import build_positions
from theoremsearch_spark.query import (
    MAX_INFLIGHT,
    IndexView,
    bounded_map,
    phrase_topk,
    topk,
    topk_batched,
)
from theoremsearch_spark.stats import prepare_docs, read_doc_stats_row
from theoremsearch_spark.streaming.incremental import (
    commit_generation,
    phrase_topk_all_generations,
    topk_all_generations,
)

N_DOCS = 600
BUILD = dict(salt_threshold=300, n_segments=4, n_buckets=4)


def _layout(spark, full, out_dir):
    docs = prepare_docs(spark.createDataFrame(full), out_dir)
    docs = docs.withColumn(
        "filter_terms", F.array(F.concat(F.lit("lang="), F.col("lang")))
    )
    build_index(docs, f"{out_dir}/index", resume=False, **BUILD)
    build_positions(docs, f"{out_dir}/index")
    return docs.count()


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    """The same docs as a batch index and as generation 0 of a root."""
    root = tmp_path_factory.mktemp("view")
    full = generate_documents(spark, N_DOCS, partitions=4).toPandas()
    batch = str(root / "batch")
    gens = str(root / "gens")
    _layout(spark, full, batch)
    n = _layout(spark, full, f"{gens}/gen_0")
    commit_generation(gens, 0, 0, n, filter_cols=["lang"])
    docs = spark.read.parquet(f"{batch}/docs").toPandas()
    pd.testing.assert_frame_equal(
        docs.sort_values("doc_id").reset_index(drop=True),
        spark.read.parquet(f"{gens}/gen_0/docs").toPandas()
        .sort_values("doc_id").reset_index(drop=True),
    )
    return {"batch": batch, "gens": gens, "docs": docs}


def _served(spark, tag, fn):
    """(result frame sorted by query/rank, Spark jobs the call launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        out = fn().toPandas()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    out = out.sort_values(["query_id", "rank"]).reset_index(drop=True)
    return out, len(sc.statusTracker().getJobIdsForGroup(tag))


def _phrases(docs):
    rows = []
    for qid, d in enumerate((5, 250, 590)):
        toks = tokenize(docs.set_index("doc_id").loc[d, "extracted_text"])
        rows.append((qid, " ".join(toks[3:6])))
    return pd.DataFrame(rows, columns=["query_id", "query_text"])


def test_batch_index_is_one_generation_root(spark, layouts):
    """topk (OR, AND, filtered, must-not), topk_batched and phrase_topk
    (positional and doc-text) return bitwise-identical frames and launch
    the same number of Spark jobs on a batch index and on the
    one-generation root built from the same docs."""
    idx, docs_dir, root = f"{layouts['batch']}/index", f"{layouts['batch']}/docs", layouts["gens"]
    qs = query_set(N_DOCS)[["query_id", "query_text"]].head(8)
    phr = _phrases(layouts["docs"])
    cases = {
        "or": (lambda: topk(spark, idx, qs, k=10),
               lambda: topk_all_generations(spark, root, qs, k=10)),
        "and": (lambda: topk(spark, idx, qs, k=10, mode="and"),
                lambda: topk_all_generations(spark, root, qs, k=10, mode="and")),
        "filtered": (lambda: topk(spark, idx, qs, k=10, filters=["lang=en"]),
                     lambda: topk_all_generations(spark, root, qs, k=10, filters=["lang=en"])),
        "not": (lambda: topk(spark, idx, qs, k=10, not_terms=["the"]),
                lambda: topk_all_generations(spark, root, qs, k=10, not_terms=["the"])),
        "batched": (lambda: topk_batched(spark, idx, qs, k=10, max_batch=3),
                    lambda: topk_all_generations(spark, root, qs, k=10, max_batch=3)),
        "phrase_text": (
            lambda: phrase_topk(spark, idx, docs_dir, phr, k=10),
            lambda: phrase_topk_all_generations(spark, root, phr, k=10, use_positions=False)),
        "phrase_pos": (
            lambda: phrase_topk(spark, idx, docs_dir, phr, k=10,
                                positions_dir=f"{idx}/positions", snippet_pad=20),
            lambda: phrase_topk_all_generations(spark, root, phr, k=10, snippet_pad=20)),
    }
    for name, (on_batch, on_root) in cases.items():
        got_b, jobs_b = _served(spark, f"view_b_{name}", on_batch)
        got_r, jobs_r = _served(spark, f"view_r_{name}", on_root)
        assert len(got_b), name
        pd.testing.assert_frame_equal(got_b, got_r, check_exact=True, obj=name)
        assert jobs_b == jobs_r, f"{name}: {jobs_b} jobs on the batch index, {jobs_r} on the root"
    # a phrase lifted from each doc surfaces that doc
    got, _ = _served(spark, "view_phrase_src", cases["phrase_pos"][0])
    for qid, d in enumerate((5, 250, 590)):
        assert d in set(got[got["query_id"] == qid]["doc_id"]), qid


def test_one_generation_view_builds_the_plain_plan(spark, layouts):
    """No tombstones and one generation: stored avgdl, no generation
    column, no per-generation routing or bound-rescale joins."""
    qs = query_set(N_DOCS)[["query_id", "query_text"]].head(4)
    plain = IndexView.open(f"{layouts['batch']}/index").prepare(spark, qs)
    root = IndexView.open(layouts["gens"]).prepare(spark, qs)
    assert root.avgdl == plain.avgdl and root.n_docs == plain.n_docs
    assert root.salt_threshold == plain.salt_threshold == BUILD["salt_threshold"]
    assert root.excluded is None
    assert root.blocks.columns == plain.blocks.columns
    assert not {"gen", "is_salted"} & set(root.blocks.columns)


def test_bounded_map_keeps_two_chunks_submitted(spark):
    """A straggling first chunk must not let the later chunks pile up
    behind it: while it runs, only MAX_INFLIGHT chunks have been
    submitted; results come back in input order."""
    lock = threading.Lock()
    started: list[int] = []
    peak: list[int] = []

    def chunk(i):
        with lock:
            started.append(i)
        if i == 0:
            time.sleep(0.5)  # straggler: the others would finish meanwhile
            with lock:
                peak.append(len(started))
        return i * i

    assert bounded_map(spark, chunk, range(8)) == [i * i for i in range(8)]
    assert MAX_INFLIGHT == 2
    assert peak == [MAX_INFLIGHT], started


def _doc_stats_dir(layouts, kind, tmp_path):
    """A copy of the layout whose doc_stats dir the test may damage."""
    src = layouts[kind]
    dst = str(tmp_path / kind)
    shutil.copytree(src, dst)
    index = f"{dst}/index" if kind == "batch" else f"{dst}/gen_0/index"
    return dst, index, f"{index}/doc_stats"


def _inject_empty_parts(stats_dir, keep_row: bool):
    """Put a zero-row part ahead of the row (keep_row) or leave only
    zero-row parts; drop checksums of the rewritten files."""
    for crc in glob.glob(f"{stats_dir}/.*.crc"):
        os.remove(crc)
    (part,) = glob.glob(f"{stats_dir}/part-*.parquet")
    table = pq.read_table(part)
    os.remove(part)
    pq.write_table(table.slice(0, 0), f"{stats_dir}/part-00000-empty.parquet")
    later = table if keep_row else table.slice(0, 0)
    pq.write_table(later, f"{stats_dir}/part-00007-row.parquet")


@pytest.mark.parametrize("kind", ["batch", "gens"])
def test_doc_stats_empty_first_part(spark, layouts, tmp_path, kind):
    dst, index, stats_dir = _doc_stats_dir(layouts, kind, tmp_path)
    want = read_doc_stats_row(stats_dir)
    qs = query_set(N_DOCS)[["query_id", "query_text"]].head(4)
    path = index if kind == "batch" else dst
    before = topk(spark, path, qs, k=10).toPandas()
    _inject_empty_parts(stats_dir, keep_row=True)
    assert read_doc_stats_row(stats_dir) == want
    after = topk(spark, path, qs, k=10).toPandas()
    pd.testing.assert_frame_equal(before, after, check_exact=True)


@pytest.mark.parametrize("kind", ["batch", "gens"])
def test_doc_stats_all_empty_parts(spark, layouts, tmp_path, kind):
    """No part holds a row: the driver read returns None (the Spark
    fallback), and serving fails with a clear error, not IndexError."""
    dst, index, stats_dir = _doc_stats_dir(layouts, kind, tmp_path)
    _inject_empty_parts(stats_dir, keep_row=False)
    assert read_doc_stats_row(stats_dir) is None
    qs = query_set(N_DOCS)[["query_id", "query_text"]].head(4)
    with pytest.raises(ValueError, match="doc_stats holds no row"):
        topk(spark, index if kind == "batch" else dst, qs, k=10)
