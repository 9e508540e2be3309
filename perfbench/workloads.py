"""The benchmark's workloads: what one operation runs, and how its
output is checked.

Operations are timed from outside the package, across calls to its
public functions: a query from ``registry.get(name).builder`` through
its ``noop`` write, a DAG from building its ``Definitions`` through
``materialize``. Whatever a builder does eagerly counts toward the
operation.
"""

from __future__ import annotations

import dataclasses
import importlib
import json
import os
from typing import NamedTuple

import pandas as pd
import pyarrow.parquet as pq

from stats import fingerprint

PKG = "data_eng_taxi_ibis_dagster_spark"

#: Short plans where driver-side build and serial stage rounds dominate:
#: scans, small exchanges, broadcast joins, a bloom filter the builder
#: computes eagerly, an as-of join, the ``operators/order.py`` prefix
#: scans and the Arrow/Python boundary. No dedup operator and no real
#: sink.
SQL_ANALYTICS = (
    "flagship_avg_price", "pricing_summary", "join_bloom_prefilter",
    "events_asof_purchase_click", "cum_revenue_by_orderdate",
    "running_peak_price_by_orderdate", "map_in_arrow_stats",
)
#: The two asset DAGs of ``pipeline.py``.
DAGS = ("taxi", "training")

#: Tables each DAG reads, the denominator of its write amplification.
DAG_INPUTS = {"taxi": ("lineitem",), "training": ("documents", "embeddings")}


class Workload(NamedTuple):
    ops: tuple[str, ...]
    #: passes per run (more when one pass is shorter than ``--seconds``)
    passes: int
    #: whether ``--seed`` draws the order of operations in each pass
    shuffle: bool
    #: the operation whose latencies after the first pass make
    #: ``op_s.p50``; None for all latencies of the run
    p50_of: str | None = None


WORKLOADS = {
    # 5 x 7 operations: a tail percentile with ten samples beyond it
    # (p71), and a median and tail that fall inside one cluster of
    # similar queries rather than between two
    "sql_analytics": Workload(SQL_ANALYTICS, passes=5, shuffle=True),
    # the first pass runs cold, the second warm; taxi then training, as
    # the pipelines run them (the first DAG warms the second). The two
    # DAGs differ eightfold in latency, so a median over both would fall
    # between them: op_s.p50 is the training DAG's warm latency, and the
    # tail (the maximum of four samples) its cold one
    "asset_dags": Workload(DAGS, passes=2, shuffle=False, p50_of="training"),
}

FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "fingerprints.json")


def _mod(name: str):
    # looked up at call time: every set-up re-imports the package
    return importlib.import_module(f"{PKG}.{name}")


def run_query(spark, tracer, sf_dir: str, name: str) -> None:
    with tracer.span("build", name):
        df = _mod("plans.registry").get(name).builder(spark, sf_dir)
    with tracer.span("exec", name):
        df.write.mode("overwrite").format("noop").save()


def run_dag(spark, tracer, sf_dir: str, name: str, out_dir: str) -> dict:
    """Materialize one DAG into ``out_dir``; each asset function runs in
    a span of its own."""
    pipeline = _mod("pipeline")
    make = {"taxi": pipeline.taxi_pipeline_definitions,
            "training": pipeline.training_data_definitions}[name]
    with tracer.span("build", name):
        defs = make(sf_dir, out_dir)
        defs = dataclasses.replace(defs, assets={
            n: dataclasses.replace(a, fn=_in_span(tracer, n, a.fn))
            for n, a in defs.assets.items()})
    with tracer.span("exec", name) as rec:
        results = defs.materialize(spark)
    rec["asset_seconds"] = sum(r.seconds for r in results.values())
    return results


def _in_span(tracer, name: str, fn):
    def wrapped(*args):
        with tracer.span("asset", name):
            return fn(*args)
    return wrapped


def _recorded(sf: float) -> dict[str, str]:
    with open(FINGERPRINTS) as fh:
        return json.load(fh).get(str(sf), {})


def output_fingerprints(name: str, out_dir: str) -> dict[str, str]:
    """Fingerprints of what the training DAG wrote: the exported corpus
    and the document ids in the vector index."""
    if name != "training":
        return {}
    corpus = pd.read_parquet(os.path.join(out_dir, "corpus"))
    index = pd.read_parquet(os.path.join(out_dir, "vector_index", "lists"), columns=["match_id"])
    return {"training/corpus": fingerprint(corpus),
            "training/vector_index_ids": fingerprint(index)}


def check_query(spark, sf_dir: str, sf: float, name: str) -> str | None:
    """Build and collect one query and compare it with the DuckDB oracle,
    or with the recorded fingerprint when it has no oracle SQL. Returns
    a description of the mismatch, or None."""
    oracle = _mod("oracle")
    spec = _mod("plans.registry").get(name)
    got = spec.builder(spark, sf_dir).toPandas()
    if spec.oracle is not None:
        report = oracle.compare_frames(name, got, oracle.run_oracle(spec.oracle, sf_dir))
        return None if report.ok else str(report)
    return _compare({name: fingerprint(got)}, sf)


def _compare(have: dict[str, str], sf: float) -> str | None:
    want = _recorded(sf)
    for key, digest in have.items():
        if key not in want:
            return f"{key}: no recorded fingerprint at sf {sf}"
        if digest != want[key]:
            return f"{key}: fingerprint {digest} != recorded {want[key]}"
    return None


def check_dag(name: str, results: dict, sf_dir: str, sf: float, out_dir: str) -> str | None:
    """Check a materialized DAG. Taxi: the DataFrame and SQL analyses
    agree and the export holds every input row. Training: the exported
    corpus holds every document that survived near-dedup, and the corpus
    and the vector index match their recorded fingerprints."""
    if name == "taxi":
        oracle = _mod("oracle")
        report = oracle.compare_frames(
            "analyse", results["analyse_dataframe"].value.toPandas(),
            results["analyse_sql"].value.toPandas())
        if not report.ok:
            return str(report)
        want = pq.ParquetFile(os.path.join(sf_dir, "lineitem.parquet")).metadata.num_rows
        got = results["export_trips"].value.rows
    else:
        want = results["drop_near_dups"].rows
        got = results["export_corpus"].value.rows
    if got != want:
        return f"{name}: export wrote {got} rows, expected {want}"
    return _compare(output_fingerprints(name, out_dir), sf)
