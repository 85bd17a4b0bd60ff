"""quality_classifier_train_gd / _gd_scores (r10): the trained model-based
quality filter LEARNS — it must beat the majority-collapse failure mode the
module docstring documents (0.750 accuracy, zero positive recall), and the
serving twin must gate on exactly the trained margins.
"""

from __future__ import annotations

import os

import pytest

from my_favorite_etl_pipeline_spark.plans.curation import _QC_BUCKETS, _qc_trained_weights

SF01 = "/root/testdata/sf0.01"

pytestmark = pytest.mark.skipif(not os.path.isdir(SF01), reason="sf0.01 absent")


def test_trained_filter_learns_and_serving_gates_on_margin(spark):
    import my_favorite_etl_pipeline_spark as engine

    w = _qc_trained_weights(spark, SF01)
    assert len(w) == _QC_BUCKETS and all(isinstance(x, int) for x in w)
    assert any(x != 0 for x in w), "training left every weight at init"

    scores = engine.queries()["quality_classifier_gd_scores"](spark, SF01).collect()
    assert all(r.keep == (r.margin_x1e6 >= 0) for r in scores)

    # weak labels: curated slice = src0..src4 (the training contract)
    from my_favorite_etl_pipeline_spark.sources.tables import load
    from pyspark.sql import functions as F

    lab = {
        r.doc_id: r.y
        for r in load(spark, SF01, "documents")
        .select("doc_id", (F.expr("CAST(substring(source, 4) AS INT)") < 5).alias("y"))
        .collect()
    }
    acc = sum(1 for r in scores if r.keep == lab[r.doc_id]) / len(scores)
    pos_caught = sum(1 for r in scores if r.keep and lab[r.doc_id])
    n_pos = sum(1 for v in lab.values() if v)
    # measured r10: 0.796 accuracy, 106/125 positives; the majority collapse
    # is 0.750 with ZERO positives — floors sit between the two so a relapse
    # into collapse fails loudly without flaking on fixture drift
    assert acc > 0.76, f"accuracy {acc:.3f}"
    assert pos_caught >= n_pos // 2, f"positive recall {pos_caught}/{n_pos}"
