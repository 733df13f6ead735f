"""The two workloads: how each request's inputs are made, how the library
is called on them, and how the output is checked.

A request is made (inputs generated and written) before its timer starts;
``make(index, small=True)`` makes the same kind of request on inputs
``WARMUP_DIVISOR`` times smaller, for the untimed warm-up;
``run`` is the timed part and calls the library only through its public
functions, each call inside a span named after the layer it enters;
``check`` compares the output with :mod:`oracle` after the timer stops.
"""
from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import pandas as pd

import gen
import oracle


WARMUP_DIVISOR = 20


@dataclass
class Request:
    index: int
    kind: str
    rows: int
    paths: dict
    data: object = field(repr=False, default=None)


class Workload:
    name = ""
    kinds: tuple = ()
    # requests in one run: whole cycles of the request schedule
    requests = 0
    # schedule positions run once, small and untimed, before the timed
    # requests, so JIT compilation and Python worker start-up are not timed
    warmup: tuple = ()

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.work_dir = work_dir

    def _dir(self, index: int) -> str:
        d = os.path.join(self.work_dir, f"req-{index:05d}")
        os.makedirs(d, exist_ok=True)
        return d

    def cleanup(self, req: Request) -> None:
        shutil.rmtree(self._dir(req.index), ignore_errors=True)

    def kind_of(self, index: int) -> str:
        return self.kinds[index % len(self.kinds)]

    def make(self, index: int, small: bool = False) -> Request:
        raise NotImplementedError

    def run(self, ctx, req: Request):
        raise NotImplementedError

    def check(self, req: Request, out) -> list[str]:
        raise NotImplementedError

    def layer_values(self, req: Request, out) -> dict:
        """Per-layer values read off a correct output, after the timer."""
        return {}


# ------------------------------------------------------------ margin tables
class MarginTables(Workload):
    """Pivot, a 1-4 op margin chain, collect, render, release."""

    name = "margin_tables"
    kinds = ("chain",)
    requests = len(gen.MARGIN_CHAINS)
    # the deepest chain with subtotals, totals, sort and percentages; one
    # small chain is enough to start the JIT, and a run has no time for more
    warmup = (7,)

    def make(self, index, small=False):
        m = gen.margin_request(self.seed, index, rows=gen.FACT_ROWS // (WARMUP_DIVISOR if small else 1))
        path = os.path.join(self._dir(index), "fact.parquet")
        gen.write_parquet(m.table, path)
        return Request(index, "chain", m.rows, {"fact": path}, m)

    def run(self, ctx, req):
        import flatbread_spark as fb

        span = ctx.tracer.span
        with span("sources.read"):
            fact = ctx.spark.read.parquet(req.paths["fact"])
        with span("sources.pivot"):
            ff = fb.pivot_table(fact, index=["g0", "g1"], columns="p", values="m", aggfunc="sum")
        for name, kw in req.data.ops:
            with span(f"operators.{name}"):
                ff = getattr(ff, name)(**kw)
        with span("frame.collect"):
            out = ff.to_df()
            rows = out.collect()
        with span("output.render"):
            spec = ff.data_spec()
        ctx.record("cache.pinned_frames", len(fb.pinned_tags()))
        with span("cache.release"):
            fb.release_caches()
        ctx.plan_of(out)
        return out.columns, [tuple(r) for r in rows], spec

    def check(self, req, out):
        cols, rows, spec = out
        return oracle.check_margin(req.data.table.to_pandas(), req.data.ops, cols, rows, spec)


# ---------------------------------------------------------- corpus curation
MINHASH_THRESHOLD = 0.5
# shares of the planted pairs a correct run must report. Planted exact
# pairs must all be found; LSH may miss near ones. Floors sit below the
# lowest recall seen over seeds 1-20 (MinHash near pairs 0.934, embedding
# pairs 0.997), so a library that drops pairs fails.
MINHASH_NEAR_RECALL_FLOOR = 0.9
EMBED_RECALL_FLOOR = 0.98
EMBED_THRESHOLD = 0.95
KNN_K = 10
MIN_WORDS = 12
MIN_QUALITY = 0.65


class CorpusCuration(Workload):
    """One curation stage per request, cycling through the stages; each
    request gets its own corpus (documents, embeddings, or micro-batch
    files). The batch stages read through the dedup, text and similarity
    operators; the two stream stages drain a fresh source directory, one
    parquet file per micro-batch, with availableNow: documents through
    ``stream_dedup_exact`` and keyed changes through ``stream_latest_state``
    (state-store commits per batch)."""

    name = "corpus_curation"
    kinds = ("dedup_exact", "knn", "funnel", "embedding_dups", "stream_dedup",
             "minhash", "latest_state")
    requests = len(kinds)
    # one request each into the Python workers (kNN's Arrow kernel), the
    # text functions and the streaming engine; warming all seven stages
    # would take longer than the timed cycle
    warmup = (1, 2, 4)

    def __init__(self, seed: int, work_dir: str):
        super().__init__(seed, work_dir)
        self.vocab = gen.vocabulary(seed)

    def make(self, index, small=False):
        kind = self.kind_of(index)
        d = self._dir(index)
        div = WARMUP_DIVISOR if small else 1
        if kind in ("stream_dedup", "latest_state"):
            return self._make_stream(index, kind, d, div)
        if kind in ("embedding_dups", "knn"):
            e = gen.embeddings(self.seed, index, n=gen.CORPUS_DOCS // div)
            paths = {"emb": os.path.join(d, "emb.parquet"), "queries": os.path.join(d, "q.parquet")}
            gen.write_parquet(e.table(), paths["emb"])
            rows = len(e.ids)
            if kind == "knn":
                gen.write_parquet(e.query_table(), paths["queries"])
                rows += len(e.query_ids)
            return Request(index, kind, rows, paths, e)
        c = gen.corpus(self.seed, index, n_docs=gen.CORPUS_DOCS // div, vocab=self.vocab)
        path = os.path.join(d, "docs.parquet")
        gen.write_parquet(c.table(), path)
        return Request(index, kind, len(c.ids), {"docs": path}, c)

    def run(self, ctx, req):
        import flatbread_spark as fb
        from pyspark.sql import functions as F

        from flatbread_spark.functions.text import with_quality

        span, spark = ctx.tracer.span, ctx.spark
        if req.kind in ("stream_dedup", "latest_state"):
            return self._run_stream(ctx, req)
        with span("sources.read"):
            if req.kind in ("embedding_dups", "knn"):
                df = spark.read.parquet(req.paths["emb"])
            else:
                df = spark.read.parquet(req.paths["docs"])
        if req.kind == "dedup_exact":
            with span("dedup.exact"):
                out = [tuple(r) for r in fb.dedup_exact(df, "id", "text").collect()]
        elif req.kind == "funnel":
            with span("text.quality"):
                funnel = fb.curation_funnel(
                    with_quality(df, "text"), "id",
                    pre_stages=[("too_short", F.size(F.split(F.trim("text"), " ")) >= MIN_WORDS)],
                    dedup_on=F.md5("text"),
                    post_stages=[("low_quality", F.col("quality") >= MIN_QUALITY)],
                )
                rows = funnel.collect()
            with span("sources.pivot"):
                # the funnel is a few rows: re-enter it rather than recompute it
                small = spark.createDataFrame(rows, funnel.schema)
                ff = fb.pivot_table(small, index="stage", values="n_removed", aggfunc="sum")
            with span("operators.add_totals"):
                ff = ff.add_totals(axis=0)
            with span("frame.collect"):
                table = [tuple(r) for r in ff.to_df().collect()]
            out = ([r.asDict() for r in rows], table)
        elif req.kind == "minhash":
            with span("dedup.minhash"):
                out = [tuple(r) for r in fb.minhash_lsh_pairs(
                    df, "id", "text", threshold=MINHASH_THRESHOLD).collect()]
        elif req.kind == "embedding_dups":
            with span("similarity.embedding_dups"):
                out = [tuple(r) for r in fb.embedding_dup_pairs(
                    df, "id", "emb", threshold=EMBED_THRESHOLD, lsh_nbits=8,
                    lsh_tables=4, dim=gen.EMBED_DIM).collect()]
        else:
            with span("sources.read"):
                queries = spark.read.parquet(req.paths["queries"])
            with span("similarity.knn"):
                out = [tuple(r) for r in fb.knn_bruteforce(
                    df, queries, id_col="id", vec_col="emb", k=KNN_K).collect()]
        ctx.record("cache.pinned_frames", len(fb.pinned_tags()))
        with span("cache.release"):
            fb.release_caches()
        return out

    def _make_stream(self, index, kind, d, div):
        src = os.path.join(d, "src")
        os.makedirs(src, exist_ok=True)
        if kind == "stream_dedup":
            files = gen.stream_docs(self.seed, index, vocab=self.vocab,
                                    per_batch=gen.STREAM_DOCS_PER_BATCH // div)
        else:
            files = gen.stream_changes(self.seed, index,
                                       per_batch=gen.STREAM_CHANGES_PER_BATCH // div)
        for b, t in enumerate(files):
            gen.write_parquet(t, os.path.join(src, f"batch-{b:03d}.parquet"))
        rows = sum(f.num_rows for f in files)
        return Request(index, kind, rows, {"src": src, "ckpt": os.path.join(d, "ckpt")},
                       files)

    def _run_stream(self, ctx, req):
        from pyspark.sql import functions as F

        from flatbread_spark.streaming.dedup import stream_dedup_exact
        from flatbread_spark.streaming.upsert import drain_current_state, stream_latest_state

        span, spark = ctx.tracer.span, ctx.spark
        name = f"perfbench_{req.kind}_{req.index}"
        schema = req.data[0].schema
        with span("streaming.drain"):
            sdf = (spark.readStream.schema(_spark_schema(schema))
                   .option("maxFilesPerTrigger", 1).parquet(req.paths["src"]))
            if req.kind == "stream_dedup":
                out = stream_dedup_exact(sdf.withColumn("ts", F.timestamp_seconds("ts")),
                                         "text", "ts", delay="1 hour")
                mode = "append"
            else:
                out = stream_latest_state(sdf, "key", "version", "event_id", "value")
                mode = "update"
            q = (out.writeStream.format("memory").queryName(name).outputMode(mode)
                 .option("checkpointLocation", req.paths["ckpt"])
                 .trigger(availableNow=True).start())
            ctx.watch_stream(q)
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
        with span("streaming.read_sink"):
            if req.kind == "stream_dedup":
                res = [r[0] for r in spark.table(name).select("fingerprint").collect()]
            else:
                res = [tuple(r) for r in drain_current_state(spark.table(name)).collect()]
        ctx.record_stream(q.recentProgress)
        spark.catalog.dropTempView(name)
        return res

    def layer_values(self, req, out):
        if req.kind != "minhash":
            return {}
        planted = req.data.exact_pairs + req.data.near_pairs
        return {"dedup.minhash_pairs_out": len(out),
                "dedup.planted_recall": oracle.planted_recall(planted, [(a, b) for a, b, _ in out])}

    def check(self, req, out):
        d = req.data
        if req.kind == "stream_dedup":
            texts = [t for f in d for t in f.column("text").to_pylist()]
            return oracle.check_stream_dedup(texts, out)
        if req.kind == "latest_state":
            return oracle.check_latest_state(pd.concat([f.to_pandas() for f in d]), out)
        if req.kind == "dedup_exact":
            return oracle.check_dedup_exact(d.ids, d.texts, out)
        if req.kind == "funnel":
            return check_funnel(d.texts, *out)
        if req.kind == "minhash":
            by_id = dict(zip(d.ids.tolist(), d.texts))
            return oracle.check_minhash(by_id, out, MINHASH_THRESHOLD, d.exact_pairs,
                                        d.near_pairs, MINHASH_NEAR_RECALL_FLOOR)
        if req.kind == "embedding_dups":
            return oracle.check_embedding_dups(d.ids, d.vecs, out, EMBED_THRESHOLD,
                                               d.planted_pairs, EMBED_RECALL_FLOOR)
        return oracle.check_knn(d.ids, d.vecs, d.query_ids, d.queries, KNN_K, out)


def check_funnel(texts, stages, table) -> list[str]:
    """Stage counts chain (each stage's n_out is the next stage's n_in);
    every stage's n_in and n_removed match a recount (length, distinct
    texts, then the quality score of each distinct surviving text); the
    pivot of the funnel matches ``pd.pivot_table`` plus a totals row."""
    errs = []
    st = sorted(stages, key=lambda r: r["stage_idx"])
    names = [r["stage"] for r in st]
    if names != ["too_short", "dedup", "low_quality"]:
        return [f"stages {names}"]
    long_enough = [t for t in texts if len(t.strip().split(" ")) >= MIN_WORDS]
    distinct = set(long_enough)
    exp_in = [len(texts), len(long_enough), len(distinct)]
    exp_removed = [len(texts) - len(long_enough), len(long_enough) - len(distinct),
                   sum(oracle.quality(t) < MIN_QUALITY for t in distinct)]
    for i, r in enumerate(st):
        if r["n_in"] - r["n_removed"] != r["n_out"]:
            errs.append(f"stage {r['stage']}: n_in - n_removed != n_out")
        if r["n_in"] != exp_in[i]:
            errs.append(f"stage {r['stage']}: n_in {r['n_in']} != expected {exp_in[i]}")
        if r["n_removed"] != exp_removed[i]:
            errs.append(f"stage {r['stage']}: n_removed {r['n_removed']} "
                        f"!= expected {exp_removed[i]}")
    pv = pd.DataFrame(st).pivot_table(index="stage", values="n_removed", aggfunc="sum")
    exp = [(s, int(v)) for s, v in pv["n_removed"].items()]
    exp.append(("Totals", int(pv["n_removed"].sum())))
    if [tuple(r) for r in table] != exp:
        errs.append(f"funnel pivot {table} != expected {exp}")
    return errs


def _spark_schema(schema):
    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    types = {"int64": LongType(), "double": DoubleType(), "string": StringType()}
    return StructType([StructField(f.name, types[str(f.type)]) for f in schema])


WORKLOADS = {w.name: w for w in (MarginTables, CorpusCuration)}


