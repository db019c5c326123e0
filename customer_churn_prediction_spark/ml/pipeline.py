"""Feature-engineering pipeline (M1-M6).

Mirrors the reference's 19-stage pipeline
(``RF/randomforest_churn.scala:243-257``) in three stages: one
multi-column StringIndexer over the categorical columns (one fit pass
instead of one per column) → OneHotEncoder(dropLast=False) (the Spark
3+ rename of 2.4's OneHotEncoderEstimator) → VectorAssembler over
continuous + one-hot blocks. The explicit bucketize step (whose output
contract in the reference is ``churn_featindex.txt``,
``FM/fm_libsvm/libsvm_transform.py:1-8``) is a pure ``when`` chain,
and ``export_featindex`` reproduces the featindex file from the fitted
StringIndexerModel.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import OneHotEncoder, StringIndexer, VectorAssembler
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import dataset

# Recency buckets play the reference's pre-bucketized feature strings
# ("30以下", "100-200", ... LR/data/churn_featindex.txt:20-38).
RECENCY_BUCKETS = ((30, "lt30"), (90, "30-90"), (180, "90-180"))
RECENCY_OTHER = "gt180"


def bucketize_recency(col) -> F.Column:
    expr = None
    prev = None
    for bound, lab in RECENCY_BUCKETS:
        cond = col < bound if prev is None else (col >= prev) & (col < bound)
        expr = F.when(cond, lab) if expr is None else expr.when(cond, lab)
        prev = bound
    return expr.otherwise(RECENCY_OTHER)


def feature_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked bucketize: recency/acctbal CASE buckets + counts."""
    from ..constants import ASOF
    from ..operators.rfm import feature_orders

    orders = feature_orders(spark, sf_dir)
    rec = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.datediff(F.lit(ASOF).cast("date"), F.max(F.to_date("o_orderdate"))).alias(
            "recency"
        )
    )
    return (
        rec.select(bucketize_recency(F.col("recency")).alias("recency_bucket"))
        .groupBy("recency_bucket")
        .count()
    )


def build_feature_pipeline(
    categorical: list[str] | None = None,
    continuous: list[str] | None = None,
    flags: list[str] | None = None,
) -> Pipeline:
    categorical = dataset.CATEGORICAL if categorical is None else categorical
    continuous = dataset.CONTINUOUS if continuous is None else continuous
    flags = dataset.FLAGS if flags is None else flags
    indexer = StringIndexer(
        inputCols=categorical,
        outputCols=[f"{c}_idx" for c in categorical],
        handleInvalid="keep",
    )
    encoder = OneHotEncoder(
        inputCols=[f"{c}_idx" for c in categorical],
        outputCols=[f"{c}_vec" for c in categorical],
        dropLast=False,
    )
    assembler = VectorAssembler(
        inputCols=continuous + flags + [f"{c}_vec" for c in categorical],
        outputCol="features",
        handleInvalid="keep",
    )
    return Pipeline(stages=[indexer, encoder, assembler])


def export_featindex(model: PipelineModel) -> list[tuple[str, str, int]]:
    """(column, categoryLabel, globalSlot) rows — the engine's
    equivalent of churn_featindex.txt (FM/fm_libsvm/churn_featindex.txt),
    recovered from the fitted StringIndexerModel."""
    from pyspark.ml.feature import StringIndexerModel

    (indexer,) = [s for s in model.stages if isinstance(s, StringIndexerModel)]
    rows = [
        (col, label)
        for col, labels in zip(indexer.getInputCols(), indexer.labelsArray)
        for label in [*labels, "__other__"]  # handleInvalid='keep'
    ]
    return [(col, label, slot) for slot, (col, label) in enumerate(rows)]


def _bucketize_oracle() -> str:
    from ..constants import ASOF, FEAT_END_EXCL, FEAT_START

    cases = []
    prev = None
    for bound, lab in RECENCY_BUCKETS:
        cond = (
            f"recency < {bound}"
            if prev is None
            else f"recency >= {prev} AND recency < {bound}"
        )
        cases.append(f"WHEN {cond} THEN '{lab}'")
        prev = bound
    case_sql = "CASE " + " ".join(cases) + f" ELSE '{RECENCY_OTHER}' END"
    return f"""
WITH rec AS (
  SELECT o_custkey,
         CAST(date_diff('day', CAST(max(o_orderdate) AS DATE), DATE '{ASOF}') AS INTEGER) AS recency
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '{FEAT_START}'
    AND o_orderdate <  TIMESTAMP '{FEAT_END_EXCL}'
  GROUP BY o_custkey
)
SELECT {case_sql} AS recency_bucket, count(*) AS count
FROM rec GROUP BY 1
"""


QUERIES = {
    "feature_bucketize": feature_bucketize,
}

ORACLES = {
    "feature_bucketize": _bucketize_oracle(),
}
