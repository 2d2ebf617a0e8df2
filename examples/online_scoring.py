"""Online scoring deployment shape: fit once, persist, score a stream.

The reference's 'online' mode loops one-row frames through Python
(/root/reference/benchmarks/RunBench.py:69-77).  The Spark-first analog:
the fitted pipeline's transform plan — pure Column expressions plus
stream-static joins against the fitted lookup tables — applied to a
micro-batched stream.  Same fitted state, same results as batch.
"""

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import dataframe_pipeline_spark as dfp
from dataframe_pipeline_spark import streaming as st

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main():
    spark = dfp.get_spark("online_scoring")
    from dataframe_pipeline_spark.ext_queries import _events

    events = _events(spark, SF)   # normalizes the nanos timestamp column

    pipe = dfp.DataframePipeline(steps=[
        dfp.ComplementLabelEncoder(inputs=["event_type"], outputs=["type_id"]),
        dfp.Aggregator(inputs=["value"], outputs=["user_mean"],
                       groupby=["user_id"], func="mean"),
        dfp.Scaler(inputs=["value"], outputs=["value_mm"], strategy="minmax"),
    ])
    pipe.fit_transform(events)    # fit + record the serving input schema

    with tempfile.TemporaryDirectory() as tmp:
        # reference-signature export (DataframePipeline.py:109-141): one
        # call persists the fitted artifact and returns the serving
        # input schema — the dict the reference feeds its ONNX graph
        to_serve = pipe.export("events_row", f"{tmp}/model")
        print(f"[online_scoring] export() -> {len(to_serve)} input "
              f"columns: {sorted(to_serve)[:3]}...")
        fitted = dfp.DataframePipeline.load(spark, f"{tmp}/model")

        # 'deploy': replay the events as a micro-batched stream and score it
        events.write.parquet(f"{tmp}/events_stream")
        sdf = (spark.readStream.schema(events.schema)
               .parquet(f"{tmp}/events_stream"))
        st.run_to_memory(st.score_stream(fitted, sdf),
                         name="scored", mode="append")
        out = spark.sql(
            "SELECT event_id, event_type, type_id, user_mean, value_mm "
            "FROM scored ORDER BY event_id LIMIT 5")
        out.show()
        n = spark.sql("SELECT count(*) n FROM scored").head().n
        print(f"[online_scoring] scored {n} streamed events with fitted state")

        # 'serve': single-request path — the fitted pipeline is compiled
        # once into driver-side lookup dicts plus one precomputed select.
        # A request looks its keys up in Python while the row is rendered.
        # The first request is served as an inline-VALUES LocalRelation
        # with the select applied (the plan folds to LocalTableScan, so
        # collect() launches NO Spark job) and binds that select as a
        # projection; every later request is evaluated by the projection
        # directly, with no SQL parse, analysis or optimization, in one
        # Py4J call a row (unpickle, project and pickle are composed
        # into one JVM function when the projection is bound).  Barrier
        # steps and logged fallbacks keep the VALUES path; lookups above
        # serving.SERVING_MAX_ROWS keep the batch join (see serving.py)
        import time

        req = events.head()
        # warm: the first request compiles the program from the fitted
        # lookup tables the steps hold and binds its projection (no
        # Spark job)
        dfp.serve_rows(fitted, spark, [req], events.schema)
        t0 = time.perf_counter()
        out_rows = dfp.serve_rows(fitted, spark, [req], events.schema)
        ms = (time.perf_counter() - t0) * 1000
        r = out_rows[0]
        print(f"[online_scoring] served 1 request in {ms:.1f} ms "
              f"(type_id={r['type_id']}, user_mean={r['user_mean']:.2f}, "
              f"value_mm={r['value_mm']:.4f})")
    spark.stop()


if __name__ == "__main__":
    main()
