"""Build a CPG the way production does and hand tests what they query:
``build_cpg`` → ``write_graph_tables`` → ``read_graph_tables``."""

from __future__ import annotations


def built_graph(spark, src) -> dict:
    """The graph tables of an ad-hoc build of ``src``, written to a scratch
    directory that is removed at interpreter exit."""
    from joern_spark.plans.pipeline import _adhoc_scratch_dir, build_cpg
    from joern_spark.sources import read_graph_tables, write_graph_tables

    location = _adhoc_scratch_dir()
    write_graph_tables(build_cpg(spark, src), location)
    return read_graph_tables(spark, location)
