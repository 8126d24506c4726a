"""The workloads. Each one starts a session, builds its fixture
(timed as set-up), runs a closed-loop timed phase of calls into the
engine's public functions, then checks every answer.

All inputs derive from the corpus generator (fixed content) and the
run's `--seed` (the serve request stream and writer's url choices, the
ingest row order). A span wraps every public call; the traced run turns
those spans into the per-layer table (perlayer.py).
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from layers import median, percentile, tail_percentile
from oracle import Bm25Oracle, check_topk, tokens
from trace import Clock, Tracer, stop_spark

K = 10
REQUEST_QUERIES = 16
DIGEST_REQUESTS = 3  # results of the first requests go into the digest

INGEST_DOCS = 4000
SERVE_DOCS = 3000
BATCH_CHANGED = 100  # base urls re-ingested with another document's text
BATCH_NEW = 100  # urls the base never had
DELETED = 20
ANN_VECS = 20000
RECALL_FLOOR = 0.8  # the engine's own recall@10 contract for IVF search
COS_TOL = 1e-4  # cos is rounded to 4 decimals over float32 vectors
DOC_COLS = ["url", "warc_ts", "html", "text", "lang"]

STOPWORDS = (
    "the and of to in is for on with as by at from or an be this that it are"
).split()
RARE_LANGS = ("de", "fr", "zz")


def _digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()[:16]


def _du(path: str) -> int:
    total = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            total += os.path.getsize(os.path.join(dp, f))
    return total


def _read_parquet(path: str, columns) -> pd.DataFrame:
    """Driver-side read of a Spark-written parquet dir, partition
    subdirectories included (their partition columns are not read)."""
    files = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    if not files:
        return pd.DataFrame({c: [] for c in columns})
    return pa.concat_tables([pq.read_table(f, columns=columns) for f in files]).to_pandas()


@dataclass
class Ctx:
    work: str
    seed: int
    seconds: float
    cores: int
    trace: bool
    clock: Clock = field(default_factory=Clock)
    tracer: Tracer = None
    spark: object = None

    def __post_init__(self):
        self.tracer = Tracer(self.clock)

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self) -> float:
        from theoremsearch_spark.session import get_spark

        with self.tracer.span("session.get_spark") as sp:
            self.spark = get_spark("perfbench", cores=self.cores)
            self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            self.tracer.label_jobs(self.spark.sparkContext)
        return sp.dur

    def stop(self) -> None:
        """Stop Spark (flushing the event log) and wait for its processes."""
        if self.spark is not None:
            spark, self.spark = self.spark, None
            stop_spark(spark)


@dataclass
class Result:
    """What a workload hands back: end-to-end inputs, correctness and
    determinism records, and layer values measured outside Spark."""

    workload: str
    setup_s: float = 0.0
    session_s: float = 0.0
    fixture_s: list = field(default_factory=list)
    latencies: list = field(default_factory=list)
    items: int = 0
    timed_s: float = 0.0
    warmup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    digests: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)  # layer values known to the benchmark
    timed_span: object = None
    setup_calls: list = field(default_factory=list)  # spans of the fixture's public calls

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(msg)

    def latency_p50(self) -> float:
        return median(self.latencies)

    def items_per_s(self) -> float:
        return self.items / self.timed_s

    def report(self, out) -> None:
        lat = self.latencies
        p = tail_percentile(len(lat))
        tail = (f"p{p:g} {percentile(lat, p):.4f}s" if p is not None
                else f"no tail percentile: {len(lat)} samples < 20")
        print(f"# workload {self.workload}: {len(lat)} requests, p50 "
              f"{median(lat):.4f}s, {tail}; {self.items} items in "
              f"{self.timed_s:.2f}s; setup {self.setup_s:.2f}s (session "
              f"{self.session_s:.2f}s + median of fixture {[round(x, 2) for x in self.fixture_s]}); "
              f"untimed warm-up {self.warmup_s:.2f}s", file=out)
        print(f"# latencies_s {[round(x, 3) for x in lat]}", file=out)
        print(f"# set-up calls_s {[(s.name, round(s.dur, 2)) for s in self.setup_calls]}", file=out)
        print(f"# determinism {json.dumps(self.digests, sort_keys=True)}", file=out)
        for e in self.errors:
            print(f"# FAILED {e}", file=out)
        out.flush()


def _timed_loop(ctx: Ctx, res: Result, step, min_requests: int, cycle: int = 1) -> None:
    """Closed loop: call `step(i)` until `seconds` passed, at least
    `min_requests` requests completed and the last `cycle` is whole."""
    with ctx.tracer.span("bench.timed") as sp:
        res.timed_span = sp
        i = 0
        while i < min_requests or i % cycle or ctx.clock.now() - sp.start < ctx.seconds:
            step(i)
            i += 1
    res.timed_s = sp.dur


def _setup(ctx: Ctx, res: Result, fixture, reps: int) -> None:
    """setup_s = session start + median wall of `reps` fixture builds."""
    res.session_s = ctx.start_session()
    with ctx.tracer.span("bench.setup") as sp:
        for r in range(reps):
            t0 = ctx.clock.now()
            fixture(r)
            res.fixture_s.append(ctx.clock.now() - t0)
    res.setup_s = res.session_s + median(res.fixture_s)
    res.setup_calls = [s for s in ctx.tracer.spans if s.parent == sp.sid]


def _write_documents(ctx: Ctx, n: int, out: str, order_seed: int | None = None) -> None:
    from pyspark.sql import functions as F

    from theoremsearch_spark.corpus import generate_documents

    with ctx.tracer.span("corpus.generate_documents"):
        df = generate_documents(ctx.spark, n, partitions=2 * ctx.cores)
        if order_seed is not None:
            df = df.orderBy(F.rand(order_seed))
        df.write.mode("overwrite").parquet(out)


def _rows(path: str) -> int:
    """Row count of a Spark-written parquet dir, from the file footers."""
    return sum(
        pq.ParquetFile(os.path.join(dp, f)).metadata.num_rows
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def _ingest(ctx: Ctx, documents: str, out: str, n_docs: int, request=None):
    """The ingest chain: prepare_docs -> build_index -> build_positions.
    Returns the prepare_docs span."""
    from pyspark.sql import functions as F

    from theoremsearch_spark.build import build_index
    from theoremsearch_spark.positions import build_positions
    from theoremsearch_spark.stats import prepare_docs

    spark, tr = ctx.spark, ctx.tracer
    with tr.span("stats.prepare_docs", request=request) as prep:
        docs = prepare_docs(spark.read.parquet(documents), out, num_partitions=2 * ctx.cores)
    docs = docs.withColumn("filter_terms", F.array(F.concat(F.lit("lang="), F.col("lang"))))
    with tr.span("build.build_index", request=request):
        build_index(docs, f"{out}/index", resume=False, **_build_kwargs(ctx, n_docs))
    with tr.span("positions.build_positions", request=request) as sp:
        pos = build_positions(spark.read.parquet(f"{out}/docs"), f"{out}/index")
        sp.attrs["rows"] = int(pos["position_rows"])
    return prep


def _build_kwargs(ctx: Ctx, n_docs: int) -> dict:
    return dict(n_buckets=ctx.cores, salt_threshold=max(1000, n_docs // 3), n_segments=8)


def _manifest_codec(index_dir: str) -> dict:
    m = _read_parquet(f"{index_dir}/manifest",
                      ["postings_written", "blocks_written", "bytes_compressed"])
    postings, blocks = int(m["postings_written"].sum()), int(m["blocks_written"].sum())
    return {
        "build.postings": postings,
        "build.blocks": blocks,
        "codec.bytes_per_posting": float(m["bytes_compressed"].sum()) / max(postings, 1),
        "codec.postings_per_block": postings / max(blocks, 1),
    }


def _doc_stats(index_dir: str) -> tuple[int, float]:
    row = _read_parquet(f"{index_dir}/doc_stats", ["n_docs", "avgdl"]).iloc[0]
    return int(row["n_docs"]), float(row["avgdl"])


# ---------------------------------------------------------------- ingest


def run_ingest(ctx: Ctx) -> Result:
    """One client cold-ingests a freshly synthesized documents table into
    a positional index, again and again, each time into a new root. One
    checked ingest runs untimed first, so no timed ingest pays the
    session's first run of the extract UDF, the build shuffle or the
    block and positions encoders."""
    res = Result("ingest")
    documents = ctx.path("documents")
    _setup(ctx, res, lambda r: _write_documents(ctx, INGEST_DOCS, documents, ctx.seed), reps=1)

    truth = _read_parquet(documents, ["url", "text", "html"])
    input_html_bytes = int(truth["html"].map(len).sum())
    truth_text = dict(zip(truth["url"], truth["text"]))
    lens = [len(tokens(t)) for t in truth["text"]]
    want_n, want_avgdl = len(lens), float(np.mean(lens))
    res.digests["requests"] = _digest([ctx.seed, INGEST_DOCS, list(truth["url"][:50])])
    del truth

    outs = []  # (label, output root, prepare_docs span)

    def ingest(label: str, timed: bool) -> None:
        out = ctx.path(f"ingest_{label}")
        res.attempted += 1
        with ctx.tracer.span("bench.ingest", request=label) as sp:
            try:
                prep = _ingest(ctx, documents, out, INGEST_DOCS, request=label)
            except Exception as e:  # noqa: BLE001 - counted, reported
                res.fail(f"ingest {label} raised {type(e).__name__}: {e}")
                return
        outs.append((label, out, prep))
        if timed:
            res.latencies.append(sp.dur)
            res.items += INGEST_DOCS

    with ctx.tracer.span("bench.warmup") as sp:
        ingest("w0", timed=False)
    res.warmup_s = sp.dur
    # two ingests at least: a burst of host steal during one of them
    # moves the median by half as much
    _timed_loop(ctx, res, lambda i: ingest(f"r{i}", timed=True), min_requests=2)
    ctx.stop()

    for label, out, prep in outs:
        docs = _read_parquet(f"{out}/docs", ["doc_id", "url", "extracted_text"])
        prep.attrs["docs"] = len(docs)
        bad = sum(truth_text.get(u) != t for u, t in zip(docs["url"], docs["extracted_text"]))
        ids_ok = sorted(docs["doc_id"]) == list(range(len(docs)))
        n, avgdl = _doc_stats(f"{out}/index")
        if bad or not ids_ok or len(docs) != want_n or set(docs["url"]) != truth_text.keys():
            res.fail(f"ingest {label}: {bad} texts differ from input, dense ids {ids_ok}, "
                     f"{len(docs)} docs for {want_n} input urls")
        elif n != want_n or abs(avgdl - want_avgdl) > 1e-9 * want_avgdl:
            res.fail(f"ingest {label}: doc_stats ({n}, {avgdl}) vs oracle ({want_n}, {want_avgdl})")
        if label == "r0":
            res.extra.update(_manifest_codec(f"{out}/index"))
            stored = _du(f"{out}/docs") + _du(f"{out}/index")
            res.extra["build.stored_bytes_per_input_byte"] = stored / input_html_bytes
            res.extra["positions.bytes_written"] = _du(f"{out}/index/positions")
            ids = docs.sort_values("url")["doc_id"].tolist()
            res.digests["results"] = _digest([n, round(avgdl, 9), ids, res.extra["build.postings"]])
    return res


# ----------------------------------------------------------------- serve


def _vocab_term(i: int) -> str:
    return f"w{i:05d}"


# (df band, token count) of the 16 queries in every OR/AND/filtered
# request: 8 from the head band (the 200 most frequent content terms),
# 5 from the mid band (ranks 200-3000), 3 stopword-laden; 1-6 tokens,
# 56 in all.
HEAD, MID, STOP = 0, 1, 2
QUERY_SHAPES = (
    [(HEAD, n) for n in (1, 2, 3, 4, 5, 6, 2, 5)]
    + [(MID, n) for n in (1, 3, 4, 5, 6)]
    + [(STOP, n) for n in (2, 3, 4)]
)
BAND_RANKS = {HEAD: (0, 200), MID: (200, 3000), STOP: (0, 1000)}


def _stratified(rng: np.random.Generator, lo: int, hi: int, k: int) -> list[int]:
    """k ranks in [lo, hi), one from each of k equal strata, shuffled."""
    edges = np.linspace(lo, hi, k + 1).astype(int)
    return rng.permutation([int(rng.integers(a, max(b, a + 1))) for a, b in zip(edges, edges[1:])]).tolist()


def _shaped_queries(rng: np.random.Generator) -> list[str]:
    """The 16 queries of one OR/AND/filtered request. Term ranks are
    stratified within each band, so every request reads postings of
    the same df profile (the Zipf head spans two orders of magnitude of
    df) and request costs stay comparable across seeds; the seed picks
    the terms."""
    need = {band: 0 for band in BAND_RANKS}
    for band, length in QUERY_SHAPES:
        need[band] += length - 1 if band == STOP else length
    pools = {band: iter(_stratified(rng, *BAND_RANKS[band], need[band])) for band in BAND_RANKS}
    texts = []
    for band, length in QUERY_SHAPES:
        toks = [_vocab_term(next(pools[band])) for _ in range(length - 1 if band == STOP else length)]
        if band == STOP:
            toks.append(STOPWORDS[int(rng.integers(0, len(STOPWORDS)))])
        texts.append(" ".join(toks))
    return texts


def _phrase_text(rng: np.random.Generator, norms: list, length: int) -> str:
    """A phrase of `length` tokens cut from a document, so it has hits."""
    toks = norms[int(rng.integers(0, len(norms)))].split()
    at = int(rng.integers(0, max(len(toks) - length, 1)))
    return " ".join(toks[at : at + length])


def _phrases(rng: np.random.Generator, norms: list) -> list[str]:
    """The 16 phrases of a phrase request: 2 all-stopword pairs (a pool
    that is a corpus fraction), 7 two-token and 7 three-token phrases."""
    stop = [" ".join(STOPWORDS[int(x)] for x in rng.integers(0, 6, 2)) for _ in range(2)]
    return stop + [_phrase_text(rng, norms, n) for n in (2,) * 7 + (3,) * 7]


# One 10-request cycle, interleaved: the BM25 mix over the base
# generation's single index (4 OR, 1 AND, 2 filtered, 1 phrase), one OR
# request over every live generation of the streamed root, and one ANN
# request. The timed phase runs whole cycles, so every run serves the
# same mix; the seed draws the queries and the rare filter languages.
KIND_CYCLE = ("or", "and", "filtered", "phrase", "or", "streamed", "or", "vector", "filtered", "or")
# one untimed request on each serving path first (topk, phrase_topk,
# topk_all_generations, ann_ivf_search): the JVM is still compiling a
# path during a session's first requests on it, which run up to 1.5x
# slower. Warming AND and filtered requests as well changed nothing
# measurable.
WARMUP_KINDS = ("or", "phrase", "streamed", "vector")


def _vector_queries(rng: np.random.Generator, vectors: np.ndarray) -> pd.DataFrame:
    """16 query vectors drawn like the corpus: a seeded corpus vector
    plus per-component noise of the corpus's own within-cluster scale
    (0.15 of a center's unit-variance components, 0.15/sqrt(dim) on a
    unit vector), unit length."""
    picks = rng.integers(0, len(vectors), REQUEST_QUERIES)
    dim = vectors.shape[1]
    q = vectors[picks].astype(np.float64) + 0.15 / np.sqrt(dim) * rng.standard_normal((REQUEST_QUERIES, dim))
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    return pd.DataFrame({"query_id": np.arange(REQUEST_QUERIES, dtype=np.int64), "qvec": list(q)})


def serve_requests(seed, n: int, norms: list, vectors: np.ndarray) -> list[dict]:
    """The seeded request stream: kinds follow KIND_CYCLE; filtered
    requests alternate lang=en (~90% of docs) and a rare language."""
    rng = np.random.default_rng(seed)
    reqs, n_filtered = [], 0
    for r in range(n):
        kind, lang = KIND_CYCLE[r % len(KIND_CYCLE)], None
        if kind == "filtered":
            lang = "en" if n_filtered % 2 == 0 else RARE_LANGS[int(rng.integers(0, 3))]
            n_filtered += 1
        if kind == "vector":
            queries = _vector_queries(rng, vectors)
        else:
            texts = _phrases(rng, norms) if kind == "phrase" else _shaped_queries(rng)
            queries = pd.DataFrame({
                "query_id": np.arange(REQUEST_QUERIES, dtype=np.int32),
                "query_text": texts,
            })
        reqs.append({"rid": f"r{r}", "kind": kind, "lang": lang, "queries": queries})
    return reqs


def _request_digest(reqs) -> str:
    return _digest([
        [q["kind"], q["lang"],
         [round(float(x), 6) for v in q["queries"]["qvec"] for x in v] if q["kind"] == "vector"
         else list(q["queries"]["query_text"])]
        for q in reqs
    ])


def _result_digest(frames) -> str:
    return _digest([
        [[int(x) if i < 3 else round(float(x), 4) for i, x in enumerate(row)]
         for row in f.itertuples(index=False)]
        for f in frames
    ])


# ------------------------------------------------------- serve fixture


def _doc_no(url: str) -> int:
    return int(url.rsplit("doc", 1)[1])


@dataclass
class Fixture:
    """What serving reads, and the input truth to check it against."""

    base: pd.DataFrame  # url, text, lang of the base generation
    base_dir: str  # gen dir of the base: single-index serving reads it
    root: str  # streamed root
    live: pd.DataFrame  # doc_id, url, text, lang of every live doc
    ann_dir: str
    vectors: np.ndarray  # the input vectors, float32, row i = vec_id i
    writes: list = field(default_factory=list)  # the writer's seeded choices


def _gen_dirs(root: str) -> set:
    return {d for d in os.listdir(root) if d.startswith("gen_")} if os.path.isdir(root) else set()


def _stream_batch(ctx: Ctx, inp: str, root: str, kind: str, **kw) -> str:
    """Commit whatever landed in `inp` since the last batch through
    `incremental_index`; returns the new generation's dir."""
    from theoremsearch_spark.streaming.incremental import incremental_index

    before = _gen_dirs(root)
    with ctx.tracer.span("streaming.incremental_index", kind=kind) as sp:
        incremental_index(
            ctx.spark, f"{inp}/*", root, ctx.path("checkpoint"), filter_cols=["lang"],
            **_build_kwargs(ctx, SERVE_DOCS), **kw,
        ).start().awaitTermination(600)
    new = sorted(_gen_dirs(root) - before)
    if len(new) != 1:
        raise RuntimeError(f"{kind} batch committed generations {new}")
    gen = os.path.join(root, new[0])
    sp.attrs["docs"] = _rows(f"{gen}/docs")
    return gen


def _build_serve_fixture(ctx: Ctx, res: Result) -> Fixture:
    """Synthesize the documents, stream them into a root as a base
    generation plus one upsert batch, delete some urls, and build an IVF
    index over synthesized vectors."""
    from pyspark.sql import functions as F

    from theoremsearch_spark.corpus import generate_vectors
    from theoremsearch_spark.functions.similarity import build_ann_index
    from theoremsearch_spark.streaming.incremental import delete_documents

    spark, tr = ctx.spark, ctx.tracer
    lo, hi = SERVE_DOCS, SERVE_DOCS + BATCH_CHANGED + BATCH_NEW  # the upsert batch's rows
    documents, inp, root = ctx.path("documents"), ctx.path("stream_in"), ctx.path("root")
    _write_documents(ctx, hi, documents)
    src = spark.read.parquet(documents).withColumn(
        "n", F.regexp_extract("url", r"doc(\d+)$", 1).cast("int"))
    truth = _read_parquet(documents, ["url", "text", "lang"])
    truth["n"] = truth["url"].map(_doc_no)
    truth = truth.sort_values("n").reset_index(drop=True)
    base = truth[truth["n"] < SERVE_DOCS][["url", "text", "lang"]].reset_index(drop=True)

    # the writer's seeded choices: which base urls the upsert batch
    # re-ingests and which live urls are deleted afterwards
    rng = np.random.default_rng([ctx.seed, 3])
    changed = sorted(rng.choice(SERVE_DOCS, BATCH_CHANGED, replace=False).tolist())
    src.filter(F.col("n") < SERVE_DOCS).select(*DOC_COLS).write.parquet(f"{inp}/b0")
    base_dir = _stream_batch(ctx, inp, root, "base", positions=True)

    rename = pd.DataFrame({
        "n": np.arange(lo, lo + BATCH_CHANGED, dtype=np.int32),
        "new_url": [base["url"][t] for t in changed],
    })
    (src.filter((F.col("n") >= lo) & (F.col("n") < hi))
        .join(F.broadcast(spark.createDataFrame(rename)), "n", "left")
        .withColumn("url", F.coalesce("new_url", "url"))
        .select(*DOC_COLS).write.parquet(f"{inp}/b1"))
    upsert_dir = _stream_batch(ctx, inp, root, "upsert")

    live = {u: (t, l) for u, t, l in base.itertuples(index=False)}
    urls = dict(zip(rename["n"], rename["new_url"]))
    batch = truth[(truth["n"] >= lo) & (truth["n"] < hi)]
    for n, t, l, u in zip(batch["n"], batch["text"], batch["lang"], batch["url"]):
        live[urls.get(n, u)] = (t, l)
    # url -> doc id of its newest version
    ids = {}
    for path in (f"{base_dir}/docs", f"{upsert_dir}/docs_offset"):
        frame = _read_parquet(path, ["doc_id", "url"])
        ids.update(zip(frame["url"], frame["doc_id"].astype(int)))

    dead = sorted(rng.choice(sorted(live), DELETED, replace=False).tolist())
    with tr.span("streaming.delete_documents") as sp:
        out = delete_documents(spark, root, dead)
    if out["deleted"] != DELETED:
        raise RuntimeError(f"delete_documents removed {out['deleted']} of {DELETED} urls")
    for u in dead:
        del live[u]
    live_df = pd.DataFrame(
        [(ids[u], u, t, l) for u, (t, l) in live.items()], columns=["doc_id", "url", "text", "lang"])

    ann_dir, vec_input = ctx.path("ann"), ctx.path("vectors")
    with tr.span("corpus.generate_vectors"):
        generate_vectors(spark, ANN_VECS, partitions=2 * ctx.cores).write.parquet(vec_input)
    with tr.span("similarity.build_ann_index") as sp:
        sp.attrs["vectors"] = int(build_ann_index(spark.read.parquet(vec_input), ann_dir)["n_vectors"])
    vecs = _read_parquet(vec_input, ["vec_id", "embedding"])
    vectors = np.zeros((ANN_VECS, len(vecs["embedding"].iloc[0])), np.float32)
    vectors[vecs["vec_id"].to_numpy()] = np.stack(vecs["embedding"].to_numpy())

    res.extra["streaming.generations_live"] = len(_gen_dirs(root))
    res.extra["streaming.tombstones_live"] = sum(
        _rows(os.path.join(root, d, "tombstones")) for d in _gen_dirs(root))
    res.extra["similarity.cells_bytes"] = _du(ann_dir + "/cells")
    return Fixture(base=base, base_dir=base_dir, root=root, live=live_df, ann_dir=ann_dir,
                   vectors=vectors, writes=[changed, dead])


# ----------------------------------------------------------------- serve


def _check_vector(out: pd.DataFrame, queries: pd.DataFrame, vectors: np.ndarray,
                  vec_norms: np.ndarray) -> tuple[list, list]:
    """(errors, per-query recall@10) of an ANN answer against numpy
    brute force over the input vectors (float64, with their norms)."""
    errors, recalls = [], []
    for qid, q in zip(queries["query_id"], queries["qvec"]):
        cos = vectors @ np.asarray(q, np.float64) / vec_norms
        exact = np.lexsort((np.arange(len(cos)), -cos))[:K]
        got = out[out["query_id"] == qid].sort_values("rnk")
        ids = got["vec_id"].astype(int).to_numpy()
        if len(got) != K or list(got["rnk"]) != list(range(1, K + 1)) or len(set(ids)) != K:
            errors.append(f"q{qid}: {len(got)} rows, ranks {list(got['rnk'])}")
            continue
        if np.abs(got["cos"].to_numpy() - cos[ids]).max() > COS_TOL:
            errors.append(f"q{qid}: cos differs from brute force by "
                          f"{np.abs(got['cos'].to_numpy() - cos[ids]).max():.2e}")
        if np.any(np.diff(got["cos"].to_numpy()) > 0):
            errors.append(f"q{qid}: not in cos order")
        recalls.append(len(set(ids) & set(exact.tolist())) / K)
    return errors, recalls


def run_serve(ctx: Ctx) -> Result:
    """One client sends 16-query requests over indexes built in set-up:
    OR / AND / filtered / phrase over the base generation's single
    index, OR over every live generation of a streamed root with
    an upsert batch and deletes behind it, and ANN searches over
    an IVF index."""
    from theoremsearch_spark.functions.similarity import ann_ivf_search
    from theoremsearch_spark.query import phrase_topk, topk
    from theoremsearch_spark.streaming.incremental import topk_all_generations

    res = Result("serve")
    built: list[Fixture] = []
    _setup(ctx, res, lambda r: built.append(_build_serve_fixture(ctx, res)), reps=1)
    fx = built[0]
    index, docs_dir = f"{fx.base_dir}/index", f"{fx.base_dir}/docs"
    res.extra.update(_manifest_codec(index))

    ids = _read_parquet(docs_dir, ["doc_id", "url"])
    if len(ids) != len(fx.base) or set(ids["url"]) != set(fx.base["url"]):
        res.attempted += 1
        res.fail(f"base generation holds {len(ids)} docs for {len(fx.base)} input urls")
    oracle = Bm25Oracle(fx.base.merge(ids, on="url"))
    live_oracle = Bm25Oracle(fx.live)
    live_ids = set(fx.live["doc_id"])
    vectors = fx.vectors.astype(np.float64)
    vec_norms = np.linalg.norm(vectors, axis=1)
    norms = oracle.con.execute("SELECT norm FROM docs ORDER BY doc_id LIMIT 2000").df()["norm"].tolist()
    reqs = serve_requests([ctx.seed, 1], 480, norms, fx.vectors)
    res.digests["requests"] = _digest([_request_digest(reqs), fx.writes])
    done = []

    def call(req):
        qs, kind = req["queries"], req["kind"]
        if kind == "phrase":
            return phrase_topk(ctx.spark, index, docs_dir, qs, k=K,
                               positions_dir=f"{index}/positions")
        if kind == "streamed":
            return topk_all_generations(ctx.spark, fx.root, qs, k=K, mode="or")
        if kind == "vector":
            return ann_ivf_search(ctx.spark, fx.ann_dir, qs, k=K)
        return topk(ctx.spark, index, qs, k=K, mode="and" if kind == "and" else "or",
                    filters=[f"lang={req['lang']}"] if req["lang"] else None)

    span_names = {"phrase": "query.phrase_topk", "streamed": "streaming.topk_all_generations",
                  "vector": "similarity.ann_ivf_search"}

    def serve(req, timed: bool) -> None:
        qs, kind = req["queries"], req["kind"]
        res.attempted += 1
        with ctx.tracer.span(span_names.get(kind, "query.topk"), request=req["rid"],
                             kind=kind, queries=len(qs)) as sp:
            try:
                out = call(req).toPandas()
            except Exception as e:  # noqa: BLE001 - counted, reported
                res.fail(f"{req['rid']} ({kind}) raised {type(e).__name__}: {e}")
                return
        sp.attrs["results"] = len(out)
        done.append((req, out, sp))
        if timed:
            res.latencies.append(sp.dur)
            res.items += len(qs)

    warm = serve_requests([ctx.seed, 2], len(KIND_CYCLE), norms, fx.vectors)
    with ctx.tracer.span("bench.warmup") as sp:
        for kind in WARMUP_KINDS:
            req = warm[KIND_CYCLE.index(kind)]
            serve(dict(req, rid="w" + req["rid"]), timed=False)
    res.warmup_s = sp.dur
    n_warm = len(done)

    _timed_loop(ctx, res, lambda i: serve(reqs[i], timed=True),
                min_requests=len(KIND_CYCLE), cycle=len(KIND_CYCLE))
    ctx.stop()

    recalls = []
    for req, out, sp in done:
        kind = req["kind"]
        if kind == "vector":
            errs, rec = _check_vector(out, req["queries"], vectors, vec_norms)
            recalls += rec
            if rec and np.mean(rec) < RECALL_FLOOR:
                errs.append(f"recall@10 {np.mean(rec):.3f} < {RECALL_FLOOR}")
        else:
            mode = {"and": "and", "phrase": "phrase"}.get(kind, "or")
            orc = live_oracle if kind == "streamed" else oracle
            exp = orc.expected(req["queries"], mode, lang=req["lang"])
            errs = check_topk(out, exp, req["queries"]["query_id"], K)
            if kind == "streamed":
                stale = set(out["doc_id"].astype(int)) - live_ids
                if stale:
                    errs.insert(0, f"returned {len(stale)} tombstoned or deleted doc ids")
        if errs:
            res.fail(f"{req['rid']} ({kind}): {errs[:3]}")
    oracle.close()
    live_oracle.close()
    res.extra["similarity.recall_at_10"] = float(np.mean(recalls)) if recalls else 0.0
    res.digests["results"] = _result_digest([
        o[["query_id", "rnk", "vec_id", "cos"]] if r["kind"] == "vector"
        else o[["query_id", "rank", "doc_id", "score"]]
        for r, o, _ in done[n_warm:n_warm + DIGEST_REQUESTS]
    ])
    return res


RUNNERS = {"ingest": run_ingest, "serve": run_serve}
