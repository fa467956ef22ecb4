"""tools/train_eval.py on the fixture 80/20 split: learn the gazetteer from
the train labels, score mention F1 of the fused mention pass on dev."""

from __future__ import annotations

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "train_eval", os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools", "train_eval.py"))
train_eval = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(train_eval)


def test_learn_and_eval_dev_f1(spark, fixture_dir):
    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    golden = spark.read.parquet(f"{fixture_dir}/golden_mentions.parquet")
    dev = train_eval.is_dev()
    rows = [r.asDict()
            for r in train_eval.learn_model(golden.filter(~dev)).collect()]
    dev_f1 = train_eval.eval_f1(spark, pages.filter(dev),
                                golden.filter(dev), rows)
    assert dev_f1 == 0.9725
