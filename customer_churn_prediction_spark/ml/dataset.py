"""Training-set assembly: features ⋈ label, seeded split.

The reference builds its modeling table by joining the feature table
with the label window and writing it out (``RF/randomforest_churn.
scala:212-227``), then re-reading with ``order by rand()`` and an
(unseeded!) randomSplit at ``:21,24``. We keep the same shape but
always seed (SURVEY §4: never reproduce the seedless splits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.assembly import feature_assembly
from ..operators.labeling import label_churn

SEED = 42

CONTINUOUS = [
    "recency",
    "shop_duration",
    "frequency",
    "monetary",
    "max_amount",
    "items_count",
    "monetary3",
    "frequence3",
    "max_amount3",
    "avg_amount",
    "item_count_turn",
    "avg_piece_amount",
    "lineitem_count",
    "quantity_sum",
    "shops_count",
    "promote_items_count",
    "save_amount",
    "promote_percent",
    "week_percent",
]
CATEGORICAL = ["shop_channel", "c_mktsegment", "n_name"]
FLAGS = [
    "promo_group",
    "economy_group",
    "small_group",
    "medium_group",
    "large_group",
    "standard_group",
]


def churn_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature table joined with the churn label (J2 + J3)."""
    feats = feature_assembly(spark, sf_dir)
    labels = label_churn(spark, sf_dir)
    return feats.join(labels, "c_custkey")


def train_test_split(
    df: DataFrame, weights=(0.8, 0.2), seed: int = SEED
) -> tuple[DataFrame, DataFrame]:
    train, test = df.randomSplit(list(weights), seed=seed)
    return train, test
