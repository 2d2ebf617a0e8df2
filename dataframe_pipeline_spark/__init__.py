"""dataframe_pipeline_spark — a PySpark-native analytics / ML data-prep engine.

A from-scratch, Spark-first re-expression of the capabilities of
IBM/dataframe-pipeline (scikit-learn-style fit/transform pipelines over
DataFrames), plus the large-scale training-data operators (dedup,
similarity search, text analysis, multimodal columns) a 100 TB pipeline
needs.  Everything is declarative DataFrame/Column code optimized by
Catalyst; Python only runs inside Arrow-batched pandas UDFs on genuinely
non-relational paths.
"""

from .base import PARM_ALL, SparkDFPBase
from .operators import (
    Aggregator,
    ColumnSelector,
    ComplementLabelEncoder,
    DateTransformer,
    FrequencyEncoder,
    CVTargetEncoder,
    FunctionTransformer,
    HashingEncoder,
    Imputer,
    MapTransformer,
    MinorityTransformer,
    OneHotEncoder,
    OutlierClipper,
    QuantileBinner,
    RangeTransformer,
    RowTransformer,
    Scaler,
    SetTransformer,
    StringConcatenator,
    StringSplitter,
    TargetEncoder,
    TypeConverter,
    WOEEncoder,
    WrapTransformer,
)
from .persistence import load_pipeline, save_pipeline
from .pipeline import DataframePipeline
from .serving import local_rows_df, serve_rows, serving_transform
from .session import get_spark

__version__ = "0.1.0"

__all__ = [
    "PARM_ALL",
    "SparkDFPBase",
    "DataframePipeline",
    "get_spark",
    "save_pipeline",
    "load_pipeline",
    "Aggregator",
    "ColumnSelector",
    "ComplementLabelEncoder",
    "DateTransformer",
    "FrequencyEncoder",
    "FunctionTransformer",
    "Imputer",
    "MapTransformer",
    "MinorityTransformer",
    "OneHotEncoder",
    "RangeTransformer",
    "RowTransformer",
    "Scaler",
    "SetTransformer",
    "StringConcatenator",
    "StringSplitter",
    "TypeConverter",
    "WOEEncoder",
    "WrapTransformer",
]
