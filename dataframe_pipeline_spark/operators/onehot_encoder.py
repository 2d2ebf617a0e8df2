"""OneHotEncoder — fitted category list → discrete 0/1 indicator columns.

Reference: /root/reference/dfpipeline/OneHotEncoder.py — fit records
``pd.get_dummies`` categories (sorted distinct non-null values); transform
adds ``col__cat`` columns via ``map({cat:1}).fillna(0)`` (float 0/1 because
the NaN fill passes through float), originals retained.

Spark-first: the category list is collected to the driver at fit — it is a
*small* fitted artifact by construction (one-hot over unbounded cardinality
is meaningless) — and its hook emits one ``F.when(col == cat, 1.0)
.otherwise(0.0)`` projection per category: pure codegen, no shuffle, no
join.  (MLlib's OneHotEncoder emits sparse Vectors; the reference needs
discrete named columns, so we generate them directly.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..base import SparkDFPBase, nan_to_null


class OneHotEncoder(SparkDFPBase):
    def __init__(self, columns=None, max_categories: int = 10_000):
        self.columns = list(columns or [])
        self.max_categories = max_categories
        self.onehot_cats = []

    def fit(self, df: DataFrame, **params):
        self.onehot_cats = []
        for c in self.columns:
            rows = (
                df.select(nan_to_null(df, c).alias("v"))
                .filter(F.col("v").isNotNull())
                .distinct()
                .sort("v")
                .limit(self.max_categories + 1)
                .collect()
            )
            if len(rows) > self.max_categories:
                raise ValueError(
                    f"OneHotEncoder: column {c!r} exceeds max_categories="
                    f"{self.max_categories}; one-hot is not meaningful here"
                )
            self.onehot_cats.append([r["v"] for r in rows])
        return self

    def column_exprs(self, view) -> dict:
        return {f"{c}__{cat}": F.when(view.col(c) == F.lit(cat), F.lit(1.0))
                .otherwise(F.lit(0.0))
                for c, cats in zip(self.columns, self.onehot_cats)
                for cat in cats}
