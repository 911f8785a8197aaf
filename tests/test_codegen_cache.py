"""Spark's codegen cache holds the engine's working set: a fixed mix of
queries run twice in one session compiles its classes in the first pass
and none in the second. With Spark's default of 100 entries the 15
headline queries (about 330 classes) evict one another, so every pass
recompiled nearly all of them. Generated classes carry no stage number
(session.configure), so a query whose independent stages AQE numbers in
a new order still finds its classes."""

from __future__ import annotations

import importlib.util
import os

from makerdao_dw_spark.queries import queries_dict

from .conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location("measure", os.path.join(REPO, "tools", "measure.py"))
measure = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(measure)


def test_headline_mix_compiles_once(spark):
    qd = queries_dict()
    passes = []
    for _ in range(2):
        compiled = {}
        for name in measure.HEADLINE:
            before = measure.compiled_classes(spark)
            qd[name](spark, SF_DIR).collect()
            compiled[name] = measure.compiled_classes(spark) - before
        passes.append(compiled)
    # pass 1 must overflow Spark's default size, or pass 2 proves nothing
    assert sum(passes[0].values()) > 100, passes[0]
    assert not any(passes[1].values()), passes[1]
