"""macro_f1's class-id precondition (operators/metrics.py).

The one-pass unpivot groups by class id, so NULL truth and pred ids would
silently merge into ONE class row where the full-outer-join form keeps
two. The precondition is enforced in the plan: a NULL id raises.
"""

from __future__ import annotations

import pytest

from wx20222_bigdata_spark.operators.metrics import macro_f1


def _preds(spark, rows):
    return spark.createDataFrame(rows, "truth INT, pred INT")


@pytest.mark.parametrize("null_side", ["truth", "pred"])
def test_macro_f1_null_class_id_raises(spark, null_side):
    rows = [(0, 0), (1, 1), (None, 1) if null_side == "truth" else (1, None)]
    with pytest.raises(Exception, match="NULL class id"):
        macro_f1(_preds(spark, rows), "truth", "pred").collect()
