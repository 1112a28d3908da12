"""``query_mix``: registered queries into the ``noop`` sink.

Compute- and job-overhead-bound: at this size the cost of a query is
per-job overhead and Python (Arrow) stages, not scanning, and the
queries do close to no Delta metadata work. Set-up writes the seeded
tables and runs every query once, untimed, comparing its result with
its DuckDB oracle (``tools/check_oracle.compare``); that run is also
the query's warm-up. The timed phase runs whole passes over the
queries, each pass in a seeded order; an op is one query's
``spec.build`` plus its ``noop`` write.
"""

from __future__ import annotations

import os

SF = 0.01

# name -> family; one or more queries per operator family, chosen so
# a checked warm-up pass plus timed passes fit one run (see README)
QUERIES = {
    "q1_pricing_summary": "catalyst",
    "dedup_embedding": "dedup",
    "sim_lsh_topk": "similarity",
    "text_tokens": "text",
    "multimodal_jpeg_decode": "multimodal",
    "q_kcore": "graph",
}
FAMILIES = ("catalyst", "dedup", "similarity", "text", "graph", "multimodal")


def _oracle_compare():
    """``tools/check_oracle.compare``, loaded by path (``tools`` is not
    a package)."""
    import importlib.util

    from harness import repo_root

    path = os.path.join(repo_root(), "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


class QueryMix:
    name = "query_mix"

    def __init__(self, ctx):
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.workdir, "tables")
        self.specs = {}

    def setup(self) -> None:
        import duckdb

        from deltalake_datafusion_spark.queries import all_query_specs

        import datagen

        ctx = self.ctx
        datagen.generate(self.sf_dir, ctx.seed, SF)
        self.specs = {
            s.name: s for s in all_query_specs() if s.name in QUERIES
        }
        compare = _oracle_compare()

        con = duckdb.connect()
        for t in datagen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        for name in QUERIES:
            spec = self.specs[name]
            with ctx.tracer.op(f"check:{name}", timed=False) as op:
                df = spec.build(ctx.spark, self.sf_dir)
                if spec.oracle is None:
                    status = "OK" if df.count() >= 0 else "no rows"
                else:
                    status = compare(name, df, spec.oracle, con)
            ctx.check(op.ok and status == "OK",
                      f"{name} vs DuckDB oracle: {status if op.ok else op.error}")
        con.close()

    def cycle(self, i: int) -> None:
        ctx = self.ctx
        order = list(QUERIES)
        ctx.rng.shuffle(order)
        for name in order:
            spec = self.specs[name]
            with ctx.tracer.op(name) as op:
                with ctx.tracer.span("queries", "build"):
                    df = spec.build(ctx.spark, self.sf_dir)
                with ctx.tracer.span("queries", "exec"):
                    df.write.format("noop").mode("overwrite").save()
            op.info["family"] = QUERIES[name]

    def finish(self) -> dict:
        return {}
