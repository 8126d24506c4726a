"""Positional-postings sidecar — exact-phrase search without doc fetch.

`query.phrase_topk` verifies phrases against stored document TEXT
(file-pruned point lookups). That is the right default: content
phrases have tiny conjunctive candidate sets. Its documented
degradation is the all-common-token phrase, where the AND set is a
large corpus fraction and fetching every candidate's text approaches
a table scan. This sidecar is the classic escalation: store each
term's occurrence POSITIONS once at build time, and verify adjacency
from the positions alone — per candidate the IO is a few short int
arrays from a term-pruned columnar scan, never the document body.

Layout (mirrors the posting-block store's pruning physics):

    positions/pb=<bucket>/…parquet      rows (term_id, doc_id, pos)

  - `pb = pmod(term_id, n_buckets)` partition dirs: a phrase's terms
    map to a handful of pb values driver-side, so serving LISTS only
    those directories;
  - files are sorted by (term_id, doc_id) within each bucket, so the
    `term_id IN (...)` serve-time filter lands on parquet row-group
    statistics — the same two-level pruning the block store uses;
  - `pos` is the 0-based token index array (array<int>); parquet's
    int packing replaces the hand varbyte codec — position lists are
    short (tf per doc) and never cross the driver.

Verification is PURE CODEGEN and ONE plan for the whole batch: each
phrase unrolls to broadcast rows (query_id, term_id, offset); the
pruned positions scan joins them once; each matched row's positions
shift by -offset (candidate phrase starts); one groupBy(query, doc)
intersects the shifted arrays — the phrase occurs iff all offsets
matched (nt == phrase length) and the intersection is non-empty.
Repeated phrase tokens contribute one row per offset and the shift
arithmetic stays exact. No Python anywhere in the verify path.

The builder is ADDITIVE: a separate pass over the prepared docs table
(`jobs/build_index.py --positions`), touching nothing in the block
index; roots without the sidecar keep the doc-text verify path.
Positions come from the same frozen tokenizer, so both verify paths
accept exactly the same documents (locked by test parity).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from theoremsearch_spark.extract import tokenize

POS_BUCKETS = 32

@F.pandas_udf(T.StringType())
def term_positions_udf(text: pd.Series) -> pd.Series:
    """text → "term:p1,p2 term2:p3 …" — one Python pass per doc,
    Arrow-batched, ONE string per doc instead of a nested
    list<struct<string, list<int>>> value. The flat string is the same
    load-bearing choice prepare_docs made for term_tfs: nested Arrow
    values materialize ~O(positions) transient PyObjects per batch,
    while the string crosses the boundary as one buffer and the
    downstream parse (split → substring_index → int casts) is pure
    whole-stage codegen — measured 1.5 s → 0.85 s for the
    UDF+explode stage at the sf0.1 bench shape. ':'/','/' ' can never
    collide with tokenizer output ([a-z0-9]+ only)."""

    def agg(t: str) -> str:
        acc: dict[str, list[int]] = {}
        for i, tok in enumerate(tokenize(t)):
            acc.setdefault(tok, []).append(i)
        return " ".join(
            "%s:%s" % (k, ",".join(map(str, v))) for k, v in acc.items()
        )

    return text.map(agg)


PB_RULE = "murmur3-v2"


def _pb_rule(root: str) -> tuple[str, int]:
    """(rule, n_buckets) recorded in a sidecar's `_pb_rule.json`.
    Sidecars written before the record used pb = term_id % buckets
    ("mod") — still served correctly via this fallback."""
    import json
    import os

    p = f"{root}/{PB_RULE_FILE}"
    if os.path.isfile(p):
        with open(p) as fh:
            d = json.load(fh)
        return d.get("rule", "mod"), int(d.get("buckets", POS_BUCKETS))
    return "mod", POS_BUCKETS


PB_RULE_FILE = "_pb_rule.json"


def build_positions(
    docs: DataFrame, out_dir: str, n_buckets: int = POS_BUCKETS
) -> dict:
    """docs (doc_id, extracted_text) → `{out_dir}/positions` sidecar.
    One narrow pass + one shuffle of (term_id, doc_id, pos-array) rows
    bucketed by term hash; files sorted by (term_id, doc_id) for
    row-group pruning.

    pb = pmod(murmur3(term_id), n_buckets) — EXACTLY the partition id
    the term_id-keyed repartition assigns, so every reducer writes one
    pb dir (the previous pb-keyed shuffle hashed 32 bucket values into
    32 partitions — balls-into-bins stragglers, guide §2.5). The rule
    is recorded in `_pb_rule.json`; serving derives each term's pb
    through the SAME JVM functions, and legacy sidecars without the
    record keep the old modulo rule."""
    rows = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(term_positions_udf("extracted_text"), " ")
            ).alias("tp"),
        )
        .filter(F.col("tp") != "")
        .select(
            F.xxhash64(F.substring_index("tp", ":", 1)).alias("term_id"),
            "doc_id",
            F.transform(
                F.split(F.substring_index("tp", ":", -1), ","),
                lambda x: x.cast("int"),
            ).alias("pos"),
        )
        .withColumn("pb", F.pmod(F.hash("term_id"), F.lit(n_buckets)).cast("int"))
    )
    (
        rows.repartition(n_buckets, "term_id")
        .sortWithinPartitions("term_id", "doc_id")
        .write.mode("overwrite")
        .partitionBy("pb")
        .parquet(f"{out_dir}/positions")
    )
    import json
    import os

    tmp = f"{out_dir}/positions/.{PB_RULE_FILE}.tmp"
    with open(tmp, "w") as fh:
        json.dump({"rule": PB_RULE, "buckets": int(n_buckets)}, fh)
    os.rename(tmp, f"{out_dir}/positions/{PB_RULE_FILE}")
    # row count from the just-written parquet FOOTERS (driver-side
    # metadata walk, zero data read) — the previous
    # read.parquet(...).count() launched a full extra scan of the
    # sidecar (∝ corpus: 4.4 M rows at sf0.1) just to report a number
    n = _footer_row_count(f"{out_dir}/positions")
    if n is None:
        n = docs.sparkSession.read.parquet(f"{out_dir}/positions").count()
    return {"position_rows": int(n), "buckets": int(n_buckets)}


def _footer_row_count(root: str) -> int | None:
    """Sum of parquet-footer num_rows over every data file under
    `root` — one driver-side metadata pass, no Spark job. None when
    `root` is not a local directory (a `file://` URI or any non-local
    scheme, which `os.walk` cannot list): the caller counts through
    Spark instead of reporting 0."""
    import os

    import pyarrow.parquet as pq

    if not os.path.isdir(root):
        return None
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(dirpath, f)).metadata.num_rows
    return total


def phrase_verify_positional(
    spark: SparkSession,
    positions_dir: str | list[str],
    cand: DataFrame,
    queries: pd.DataFrame,
    k: int,
    n_buckets: int = POS_BUCKETS,
) -> DataFrame:
    """Adjacency-verify conjunctive candidates from the positions
    sidecar and re-rank — same contract as query._verify_phrase, zero
    doc-text reads. `cand`: (query_id, doc_id, score) localized
    candidates.

    ONE plan for the whole batch (a per-query plan loop was the OOM
    anti-pattern: Q sub-plans × Q broadcasts): every phrase unrolls to
    broadcast rows (query_id, term_id, offset), the pruned positions
    scan joins them once, each match's positions shift by -offset
    (candidate phrase STARTS), and a single groupBy(query, doc)
    intersects the shifted arrays — the phrase occurs iff every offset
    row is present (nt == phrase length) and the running
    array_intersect is non-empty. All codegen; work ∝ matched posting
    rows of the phrase terms within the candidate set."""
    from pyspark.sql import Window as W

    from theoremsearch_spark.query import TOPK_SCHEMA

    # phrase tokens → stored term_ids, via the SAME JVM xxhash64 the
    # builder used (one tiny local-relation job — no lookup join and no
    # driver-side hash reimplementation to drift)
    tok_lists = {
        int(qid): tokenize(str(txt))
        for qid, txt in zip(queries["query_id"], queries["query_text"])
    }
    vocab = sorted({t for toks in tok_lists.values() for t in toks})
    if not vocab:
        return spark.createDataFrame([], TOPK_SCHEMA)
    # term → (term_id, murmur3(term_id)) via the SAME JVM functions the
    # builder used (one tiny local-relation job — no driver-side hash
    # reimplementation to drift); mm feeds the murmur3 pb rule below
    id_rows = (
        spark.createDataFrame([(t,) for t in vocab], "t string")
        .select(
            "t",
            F.xxhash64("t").alias("tid"),
            F.hash(F.xxhash64("t")).alias("mm"),
        )
        .collect()
    )
    tid_of = {r["t"]: int(r["tid"]) for r in id_rows}
    mm_of = {int(r["tid"]): int(r["mm"]) for r in id_rows}
    pt_rows = [
        (qid, tid_of[t], off, len(toks))
        for qid, toks in tok_lists.items()
        if toks
        for off, t in enumerate(toks)
    ]
    if not pt_rows:
        return spark.createDataFrame([], TOPK_SCHEMA)
    pt = spark.createDataFrame(
        pt_rows, "query_id int, term_id long, offset int, n_req int"
    )
    all_tids = {r[1] for r in pt_rows}

    # one sidecar root (single index) or several (one per committed
    # generation of a streamed root — doc_ids are globally unique via
    # the generation offsets, so the union IS the corpus positions).
    # pb derivation is PER ROOT from its recorded rule: mixed roots
    # (legacy modulo + murmur3) each prune with their own mapping.
    roots = [positions_dir] if isinstance(positions_dir, str) else list(positions_dir)
    import os

    paths = []
    for root in roots:
        rule, nb = _pb_rule(root)
        pbs = sorted(
            {
                (mm_of[tid] % nb) if rule == PB_RULE else (tid % nb)
                for tid in all_tids
            }
        )
        paths.extend(
            p for b in pbs if os.path.isdir(p := f"{root}/pb={b}")
        )
    if not paths:
        return spark.createDataFrame([], TOPK_SCHEMA)
    pos = (
        spark.read.parquet(*paths)
        .filter(F.col("term_id").isin([int(t) for t in all_tids]))
    )

    verified = (
        pos.join(F.broadcast(pt), "term_id")
        .join(cand.select("query_id", "doc_id", "score"), ["query_id", "doc_id"])
        .select(
            "query_id", "doc_id", "score", "n_req",
            F.expr("transform(pos, p -> p - offset)").alias("sp"),
        )
        .groupBy("query_id", "doc_id", "score")
        .agg(
            F.count("*").alias("nt"),
            F.first("n_req").alias("n_req"),
            F.expr(
                "aggregate(slice(collect_list(sp), 2, 100000), "
                "collect_list(sp)[0], (acc, x) -> array_intersect(acc, x))"
            ).alias("starts"),
        )
        .filter((F.col("nt") == F.col("n_req")) & (F.size("starts") > 0))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        verified.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
