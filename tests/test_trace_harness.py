"""The traced benchmark run wraps pipeline operators by module-global name.

``perfbench/instrument.py`` rebinds every ``PIPELINE_OPS`` name in
``umi_dedup_spark.plans.pipeline`` for a ``--trace`` run; a refactor that
drops one of those imports would break only that run, so it is pinned here.
"""

from __future__ import annotations

import umi_dedup_spark.plans.pipeline as pipeline
from perfbench.instrument import PIPELINE_OPS


def test_traced_operators_are_pipeline_globals():
    missing = [n for n in PIPELINE_OPS if not callable(vars(pipeline).get(n))]
    assert not missing, missing
