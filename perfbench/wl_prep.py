"""prep_batch: the LLM data-prep pipeline as a repeated batch job.

Each request runs ``operators.prep.full_prep_pipeline`` over a seeded
corpus with planted exact and near duplicates.  The per-request floor is a
small share here: the time goes to the MinHash ``mapInPandas`` kernel,
shuffles and the ``materialize`` checkpoints, while the engine layers of
tick_serve barely run.
"""

from __future__ import annotations

import os

import pyarrow as pa

import gen
from harness import Op, job_free_ms, op_layer_common, tree_bytes
from sparkstats import catalyst_ms


class PrepBatch:
    name = "prep_batch"
    cycle_len = 1

    def __init__(self, seed: int):
        self.seed = seed
        corpus = gen.corpus_frame(seed)
        self.docs = len(corpus)
        self.user_bytes = pa.Table.from_pandas(corpus, preserve_index=False).nbytes

    def setup_once(self, ctx, rep: int) -> None:
        """Land the generated corpus as a parquet ``documents`` table."""
        self.root = os.path.join(ctx.work, f"prep{rep}")
        corpus = gen.corpus_frame(self.seed)
        ctx.spark.createDataFrame(corpus).write.parquet(
            os.path.join(self.root, "documents.parquet"))

    def amplification(self) -> tuple[float, float]:
        disk, _ = tree_bytes(os.path.join(self.root, "documents.parquet"))
        return disk / self.user_bytes, disk / self.user_bytes

    def warmup_ops(self):
        """Two runs: the second one is still visibly slower than later ones."""
        return [Op(0, "prep", self._run), Op(0, "prep", self._run)]

    def ops(self):
        i = 0
        while True:
            yield Op(i, "prep", self._run)
            i += 1

    def _run(self, ctx):
        from ago_sisdb_spark import catalog
        from ago_sisdb_spark.operators.prep import full_prep_pipeline

        docs = catalog.load_table(ctx.spark, self.root, "documents")
        with ctx.span("prep.build", jobs=True):
            df = full_prep_pipeline(docs)
        with ctx.span("collect", jobs=True):
            out = df.collect()
        return out, df

    # -- after each request, outside its timing --------------------------

    def rows_of(self, rec) -> int:
        return self.docs

    def derive(self, ctx, rec, spans) -> None:
        out, df = rec.result
        layer = op_layer_common(ctx, rec, spans, len(out), [df])
        by = {s.name: s for s in spans}
        layer["prep.build_ms"] = job_free_ms(ctx, by["prep.build"])
        layer["collect.transfer_ms"] = job_free_ms(ctx, by["collect"])
        for phase, ms in catalyst_ms(df).items():
            layer[f"catalyst.{phase}_ms"] = ms
        rec.layer = layer

    def precheck(self) -> None:
        """Evaluate the DuckDB twin of the pipeline (the ``pipe_full_prep``
        oracle) over the landed corpus.  It takes seconds, so it runs
        beside the warm-up, which is not measured."""
        import duckdb

        from ago_sisdb_spark.inventory import extended_oracles

        con = duckdb.connect()
        path = os.path.join(self.root, "documents.parquet", "*.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        self.want = sorted(tuple(r) for r in con.execute(
            extended_oracles()["pipe_full_prep"]).fetchall())
        con.close()

    def check(self, records) -> int:
        """Requests whose per-shard totals differ from the oracle's."""
        want = self.want
        return sum(
            sorted((r.shard, r.n_docs, r.n_bins, r.total_tokens)
                   for r in rec.result[0]) != want
            for rec in records)
