"""Spark's codegen cache holds the engine's working set: a fixed mix of
queries run twice in one session compiles its classes in the first pass
and none in the second. With Spark's default of 100 entries the 15
headline queries (about 330 classes) evict one another, so every pass
recompiled nearly all of them."""

from __future__ import annotations

import bench
from makerdao_dw_spark.queries import queries_dict

from .conftest import SF_DIR

# AQE numbers whole-stage codegen stages in the order it creates query
# stages, and the number is part of the generated class. This query's two
# independent scans of `documents` are staged in either order, so a run in
# a new order compiles 4-8 classes whatever the cache size. It stays in the
# mix, so its classes still count against the cache.
RENUMBERED = {"text_tfidf_topterms"}


def test_headline_mix_compiles_once(spark):
    qd = queries_dict()
    passes = []
    for _ in range(2):
        compiled = {}
        for name in bench.HEADLINE:
            before = bench.compiled_classes(spark)
            qd[name](spark, SF_DIR).collect()
            compiled[name] = bench.compiled_classes(spark) - before
        passes.append(compiled)
    # pass 1 must overflow Spark's default size, or pass 2 proves nothing
    assert sum(passes[0].values()) > 100, passes[0]
    recompiled = {n: c for n, c in passes[1].items() if c and n not in RENUMBERED}
    assert not recompiled, passes[1]
