"""The benchmark's workloads: what one pass calls, at which input size.

A workload is a closed loop with one client: each operation starts when the
previous one has returned, and a pass is the workload's operations once, in
a fixed order. An operation is one catalog call (``analyst_sweep``) or one
pipeline stage (``corpus_pipeline``). Every call into the library is wrapped
in a tracer phase, which sets the Spark job group while tracing is on.
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def ensure_data(cache: str, seed: int, sf: float) -> str:
    """Generated tables for ``(seed, sf)``, made once and cached.

    ``tools/gen_testdata.generate`` writes every table; a partly written
    directory from an interrupted run is never used, because generation
    goes to a scratch name that is renamed only when complete.
    """
    from gen_testdata import generate

    out = os.path.join(cache, "data", f"seed{seed}", f"sf{sf:g}")
    if not os.path.isdir(out):
        tmp = f"{out}.partial{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.dirname(out), exist_ok=True)
        generate(tmp, sf, seed)
        os.rename(tmp, out)
    return out


def table_rows(data_dir: str) -> dict:
    import pyarrow.parquet as pq

    return {
        name[: -len(".parquet")]: pq.ParquetFile(os.path.join(data_dir, name)).metadata.num_rows
        for name in sorted(os.listdir(data_dir))
        if name.endswith(".parquet")
    }


class Context:
    """What an operation needs: the session, the tracer, its input tables
    and a private directory for the files a pass writes."""

    def __init__(self, spark, tracer, data_dir: str, work_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.data = data_dir
        self.work = work_dir


class AnalystSweep:
    """Catalog entries called one after another, each result fetched to the
    driver with ``toPandas()``.

    Every call sits on Spark's scheduling floor at this size, so the build
    (schema inference, column building), plan and driver-collect layers
    carry a large share of each call. The nine entries together use every
    ``functions`` submodule.
    """

    name = "analyst_sweep"
    sf = 0.1
    # length of one warm pass on a quiet 4-core box; --seconds becomes a
    # whole number of timed passes of this length (see run.py)
    pass_s = 6.0
    ops = [
        "rolling_sharpe",             # functions.eod_returns + rolling
        "calc_sharpe",                # functions.eod_ratios
        "calc_max_drawdown",          # functions.eod_risk
        "year_frac",                  # functions.eod_temporal
        "time_weighted_spread",       # functions.quote
        "calc_trade_rate",            # functions.tick_activity
        "calc_tick_imbalance",        # functions.tick_direction
        "calc_vwap",                  # functions.tick_flow
        "calc_realized_volatility",   # functions.tick_bars + tick_price
    ]
    # no entry here calls the dedup operators; dedup.build_* read 0
    dedup_op = None

    def __init__(self):
        from ffn_polars_spark.queries import QUERY_FNS

        self._fns = QUERY_FNS

    def run(self, ctx: Context, name: str):
        tr = ctx.tracer
        with tr.phase("build"):
            df = self._fns[name](ctx.spark, ctx.data)
        tr.plan(df)
        with tr.phase("collect"):
            return df.toPandas()

    def check(self, ctx: Context, outputs: dict) -> list:
        from checks import check_oracle

        return check_oracle(outputs, ctx.data)


class CorpusPipeline:
    """The composed corpus flow of ``tools/pipeline_e2e.py`` without its
    decontamination stage: clean_corpus -> dedup_minhash_lsh (+ canonical
    assignment) -> deterministic_split -> shard_by_tokens, pack_sequences.

    Each stage reads its input through ``sources.read_table`` and writes
    its output through ``sources.write_table``, so this is the workload
    that writes beside reading, holds operator pins within a stage and
    drives the MinHash and text Arrow kernels.
    """

    name = "corpus_pipeline"
    sf = 0.1
    pass_s = 9.5
    ops = [
        "clean_corpus",
        "dedup_minhash_lsh",
        "deterministic_split",
        "shard_by_tokens",
        "pack_sequences",
    ]
    dedup_op = "dedup_minhash_lsh"
    # the generated text is synthetic "wordNNNN" tokens, so the language
    # vote has no real signal; accept every language the generator labels
    LANGUAGES = ("en", "de", "fr", "es", "it")
    SEQ_LEN = 2048
    SHARD_BUDGET = 50_000
    WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}

    def __init__(self):
        from ffn_polars_spark.operators import dedup, pipeline
        from ffn_polars_spark.sources import read_table, write_table

        self.dedup, self.pipeline = dedup, pipeline
        self.read_table, self.write_table = read_table, write_table

    def run(self, ctx: Context, name: str):
        getattr(self, name)(ctx)

    def check(self, ctx: Context, outputs: dict) -> list:
        from checks import check_pipeline

        return check_pipeline(ctx.work, ctx.data, self.SEQ_LEN)

    def _finish(self, ctx: Context, df, out: str) -> None:
        ctx.tracer.plan(df)
        with ctx.tracer.phase("write"):
            self.write_table(df, os.path.join(ctx.work, f"{out}.parquet"))
        self.dedup.release_pins()

    def clean_corpus(self, ctx):
        with ctx.tracer.phase("read"):
            docs = self.read_table(ctx.spark, ctx.data, "documents")
        with ctx.tracer.phase("build"):
            decisions = self.pipeline.clean_corpus(docs, languages=self.LANGUAGES, min_quality=0.5)
            kept = docs.join(decisions.where("keep").select("doc_id"), "doc_id")
        self._finish(ctx, kept, "cleaned")

    def dedup_minhash_lsh(self, ctx):
        with ctx.tracer.phase("read"):
            survivors = self.read_table(ctx.spark, ctx.work, "cleaned")
        with ctx.tracer.phase("build"):
            pairs = self.dedup.dedup_minhash_lsh(survivors, threshold=0.8, verify="none")
            assign = self.dedup.dedup_assign_canonical(survivors, pairs)
        self._finish(ctx, assign, "canonical")

    def deterministic_split(self, ctx):
        with ctx.tracer.phase("read"):
            survivors = self.read_table(ctx.spark, ctx.work, "cleaned")
            assign = self.read_table(ctx.spark, ctx.work, "canonical")
        with ctx.tracer.phase("build"):
            final = survivors.join(assign.where("NOT is_duplicate").select("doc_id"), "doc_id")
            split = self.pipeline.deterministic_split(final, weights=self.WEIGHTS)
        self._finish(ctx, split.select("doc_id", "text", "split"), "split")

    def _train(self, ctx):
        return self.read_table(ctx.spark, ctx.work, "split").where("split = 'train'").select(
            "doc_id", "text"
        )

    def shard_by_tokens(self, ctx):
        with ctx.tracer.phase("read"):
            train = self._train(ctx)
        with ctx.tracer.phase("build"):
            shards = self.pipeline.shard_by_tokens(train, budget=self.SHARD_BUDGET)
        self._finish(ctx, shards, "shards")

    def pack_sequences(self, ctx):
        with ctx.tracer.phase("read"):
            train = self._train(ctx)
        with ctx.tracer.phase("build"):
            packed = self.pipeline.pack_sequences(train, seq_len=self.SEQ_LEN)
        self._finish(ctx, packed, "packed")


WORKLOADS = {w.name: w for w in (AnalystSweep, CorpusPipeline)}


def import_tools() -> None:
    """Make ``tools/`` (the test-data generator and correctness helpers)
    importable as top-level modules."""
    tools = os.path.join(ROOT, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
