"""Generate QUERIES.md — the navigable index of every declared query:
name, first docstring line, and whether its oracle is static or
data-dependent.  Run after adding queries; commit the output.

Usage: python scripts/gen_queries_md.py > QUERIES.md
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from dataframe_pipeline_spark.ext_queries import EXT_QUERIES  # noqa: E402
from dataframe_pipeline_spark.queries import CORE_QUERIES  # noqa: E402
from dataframe_pipeline_spark.tpch import TPCH_QUERIES  # noqa: E402


#: One-liners for the oldest registry rows, whose query functions
#: predate the docstring convention (VERDICT r10 #7).  Newer rows
#: document themselves; a row in NEITHER place renders blank, which is
#: the signal to add a docstring.
FALLBACK_NOTES = {
    "agg_global_mean": "Aggregator global mean broadcast onto every row",
    "agg_group_mean": "Aggregator per-group mean via broadcast lookup join",
    "agg_group_median": "exact interpolated per-group median "
                        "(transform-time stats)",
    "agg_group_nunique": "per-group exact distinct count joined back",
    "agg_group_std": "per-group population std (reference semantics)",
    "date_features": "DateTransformer: 6 calendar fields from a timestamp",
    "dedup_exact": "exact dedup: digest-grouped first-row survivor set",
    "dedup_minhash_pairs": "MinHash+LSH banded candidate pairs "
                           "(never all-pairs)",
    "dedup_ngram_jaccard": "uncapped n-gram Jaccard pair join "
                           "(quadratic DEMO; scale twin dedup_ngram_capped)",
    "dedup_simhash": "64-bit SimHash fingerprint per document",
    "dedup_simhash_pairs": "SimHash near-dup pairs by banded hamming "
                           "buckets (demo tier)",
    "events_hourly_agg": "event-time hourly rollup, batch/stream-unified "
                         "(streaming.hourly_agg)",
    "events_latest": "latest event per user (rank-limit window, "
                     "WindowGroupLimit)",
    "freq_count": "FrequencyEncoder count encode; unseen category -> 1",
    "freq_norm": "FrequencyEncoder normalized encode; unseen -> 0.0",
    "function_native": "FunctionTransformer lambda compiled to native "
                       "Catalyst expressions (AST tier)",
    "function_udf": "FunctionTransformer pandas-UDF fallback tier "
                    "(Arrow-batched)",
    "imputer_const": "Imputer constant fill",
    "imputer_mean": "Imputer mean fill from transform-time stats",
    "imputer_median": "Imputer exact interpolated median fill",
    "join_left_enrich": "orders left join customer "
                        "(FraudDetection1.py:94 analog); AQE picks the "
                        "join strategy",
    "label_encode": "ComplementLabelEncoder: lexicographic codes, "
                    "extra_category_ for unseen, literal-map lookup",
    "map_default": "MapTransformer exact-match mapping with default",
    "map_regex": "MapTransformer regex-match mapping, NaN keys",
    "minority": "MinorityTransformer: rare categories collapsed at "
                "transform-time counts",
    "multimodal_decode": "real image decode (BMP/PPM/PNG/JPEG) to "
                         "dimensions/pixel stats via Arrow mapInPandas",
    "multimodal_meta": "typed metadata extraction over opaque binary "
                       "media columns",
    "onehot": "OneHotEncoder: fitted categories to when-columns",
    "range_transform": "RangeTransformer ordered when-chain binning",
    "row_filter": "RowTransformer predicate row filter",
    "scaler_min": "Scaler min strategy",
    "scaler_minmax": "Scaler min-max strategy (transform-time stats)",
    "scaler_standard": "Scaler standard strategy with POPULATION std "
                       "(reference quirk)",
    "select": "ColumnSelector projection",
    "session_stats": "session_window gap sessionization stats "
                     "(streaming.session_stats)",
    "sessionize": "30-min-gap session ids per user (lag + running sum)",
    "set_diff": "SetTransformer '-' set difference",
    "set_intersect": "SetTransformer '*' set intersection",
    "sim_ann_lsh": "hyperplane-LSH bucketed ANN search "
                   "(sign-LSH candidate buckets)",
    "sim_topk_cosine": "brute-force cosine top-k baseline "
                       "(F.aggregate/zip_with dot product)",
    "split_train": "deterministic 3:1 train/test split (scale path)",
    "strconcat": "StringConcatenator incl. the rstrip('0').rstrip('.') "
                 "reference quirk",
    "strsplit_index": "StringSplitter index extraction",
    "strsplit_sep": "StringSplitter separator split",
    "text_fingerprint": "rolling-hash document fingerprint",
    "text_langid": "n-gram-marker language identification scores + argmax",
    "text_quality": "length/punctuation/stopword-ratio quality scoring",
    "text_redact": "PII-pattern redaction (regex tier, single scan)",
    "text_repetition": "repeated-line/ngram repetition ratios",
    "text_term_freq": "per-document term frequencies (split + explode + "
                      "count)",
    "text_tfidf": "TF-IDF with document-frequency floor (two keyed aggs, "
                  "1-row n_docs broadcast)",
    "text_token_count": "whitespace + BPE-ish regex token counts",
    "typeconv": "TypeConverter column casts",
    "wrap_label_encode": "WrapTransformer sklearn-name mapping "
                         "(LabelEncoder analog, row-capped generic fit)",
}


def first_line(fn, name: str = "") -> str:
    doc = (fn.__doc__ or "").strip()
    if not doc:
        return FALLBACK_NOTES.get(name, "")
    line = doc.split("\n\n")[0].replace("\n", " ")
    return " ".join(line.split())


def main():
    qs = entrymod.queries()
    all_defs = {**CORE_QUERIES, **EXT_QUERIES, **TPCH_QUERIES}
    print("# QUERIES — declared query registry "
          f"({len(qs)} entries)\n")
    print("Every entry has a `queries()` callable AND a DuckDB oracle "
          "(static SQL, or a data-dependent generator resolved per "
          "sf_dir). Generated by `scripts/gen_queries_md.py` — "
          "regenerate after adding queries.\n")
    print("| query | oracle | what it proves |")
    print("|---|---|---|")
    for name in sorted(qs):
        fn, sql = all_defs[name]
        kind = "generated" if callable(sql) else "static"
        print(f"| `{name}` | {kind} | {first_line(fn, name)} |")


if __name__ == "__main__":
    main()
